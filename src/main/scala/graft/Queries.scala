package graft

import graft.etl.{DimDate, Taxonomy}
import graft.functions.{CleanExprs, TextExprs}
import graft.operators.{Dedup, Sessionize, Similarity}
import org.apache.spark.sql.graftshim.ManifestRelation
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's query surface, exposed in the driver contract shape:
  * every operator from SURVEY.md §2 (plus the training-data-pipeline
  * extensions) has a named query over the driver testdata AND an equivalent
  * DuckDB oracle SQL, kept adjacent so they cannot drift.
  *
  * Numeric parity rules (Spark vs DuckDB on the same parquet):
  *  - money-ish doubles are cast to DECIMAL(18,2) BEFORE aggregation in
  *    BOTH engines: decimal sums are exact and order-independent, so no
  *    floating-point accumulation-order skew; final cast to DOUBLE gives
  *    both engines the identical float64;
  *  - dot products fold in element order in double precision on both sides;
  *  - every computed column is aliased identically on both sides.
  */
object Queries {

  final case class Q(name: String,
                     fn: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  private val D = DecimalType(18, 2)
  private def dec(c: Column): Column = c.cast(D)

  import Tables._

  // ---------------------------------------------------------------- A: core
  // SURVEY §2.4 A2/A3/A5 hash aggregate with decimal sums (TPC-H Q1 shape)
  private val q01 = Q("q01_pricing_summary",
    (s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("n_rows")),
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      COUNT(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag, l_linestatus"""))

  // SURVEY §2.4 A1 distinct projection
  private val q02 = Q("q02_distinct_projection",
    (s, d) => customer(s, d).select(col("c_nationkey"), col("c_mktsegment")).distinct(),
    Some("SELECT DISTINCT c_nationkey, c_mktsegment FROM customer"))

  // SURVEY §2.4 A4 / §2.6 O2: group + sum + top-k (TakeOrderedAndProject)
  private val q03 = Q("q03_topk_parts",
    (s, d) => lineitem(s, d).groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_quantity"))).cast(DoubleType).as("qty"))
      .orderBy(col("qty").desc, col("l_partkey"))
      .limit(200),
    Some("""SELECT l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY l_partkey ORDER BY qty DESC, l_partkey LIMIT 200"""))

  // SURVEY §2.3 J1: NOT EXISTS == left_anti (upsert's insert half)
  private val q04 = Q("q04_anti_join",
    (s, d) => customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name")),
    Some("""SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"""))

  // EXISTS == left_semi
  private val q05 = Q("q05_semi_join",
    (s, d) => customer(s, d)
      .join(orders(s, d).where(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment")),
    Some("""SELECT c_custkey, c_mktsegment FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')"""))

  // SURVEY §2.3 J3/J4: multi-way star join + agg; nation is broadcast
  private val q06 = Q("q06_star_join_revenue",
    (s, d) => lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items")),
    Some("""SELECT n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name"""))

  // SURVEY §2.5 W1: percent of grand total — window over the AGGREGATED
  // frame (5 rows), one traversal. For high-cardinality group keys,
  // cross-join a materialized aggregate with its broadcast single-row
  // total instead (see Dashboard's grand-total note).
  private val q07 = Q("q07_pct_of_total",
    (s, d) => customer(s, d).groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"))
      .withColumn("pct",
        round(col("n_cust").cast(DoubleType) /
          sum(col("n_cust")).over(Window.partitionBy()), 6)),
    Some("""SELECT c_mktsegment, n_cust,
      ROUND(CAST(n_cust AS DOUBLE) / SUM(n_cust) OVER (), 6) AS pct
      FROM (SELECT c_mktsegment, COUNT(*) AS n_cust FROM customer GROUP BY c_mktsegment)"""))

  // SURVEY §2.5 W2: rank within partition, keep the leader
  private val q08 = Q("q08_rank_leader",
    (s, d) => {
      val base = customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment")).agg(count(lit(1)).as("n_cust"))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("n_cust").desc, col("c_mktsegment"))
      base.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("n_name"), col("c_mktsegment"), col("n_cust"))
    },
    Some("""SELECT n_name, c_mktsegment, n_cust FROM (
      SELECT n_name, c_mktsegment, n_cust,
        ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY n_cust DESC, c_mktsegment) AS rn
      FROM (SELECT n_name, c_mktsegment, COUNT(*) AS n_cust
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name, c_mktsegment)) WHERE rn = 1"""))

  // SURVEY §2.4 A10: pivot matrix (nation × mktsegment)
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val q09 = Q("q09_pivot_matrix",
    (s, d) => customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .pivot("c_mktsegment", segments)
      .agg(count(lit(1)))
      .na.fill(0, segments),
    Some("SELECT n_name, " + segments.map(seg =>
        s"""CAST(COALESCE(SUM(CASE WHEN c_mktsegment = '$seg' THEN 1 END), 0) AS BIGINT) AS "$seg"""")
        .mkString(", ") +
      " FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"))

  // SURVEY §2.4 A7: rollup with grand-total row
  private val q10 = Q("q10_rollup_total",
    (s, d) => customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"))
      .agg(sum(dec(col("c_acctbal"))).cast(DoubleType).as("total_acctbal"),
        count(lit(1)).as("n_cust"))
      .select(coalesce(col("n_name"), lit("ALL")).as("n_name"),
        col("total_acctbal"), col("n_cust")),
    Some("""SELECT COALESCE(n_name, 'ALL') AS n_name,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
      COUNT(*) AS n_cust
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY ROLLUP (n_name)"""))

  // SURVEY §2.4 A5/A6: conditional counts + exact distinct
  private val q11 = Q("q11_conditional_counts",
    (s, d) => orders(s, d).agg(
      count(lit(1)).as("n_rows"),
      count(col("o_orderpriority")).as("n_priority"),
      countDistinct(col("o_custkey")).as("n_cust"),
      countDistinct(col("o_orderstatus")).as("n_status")),
    Some("""SELECT COUNT(*) AS n_rows, COUNT(o_orderpriority) AS n_priority,
      COUNT(DISTINCT o_custkey) AS n_cust, COUNT(DISTINCT o_orderstatus) AS n_status
      FROM orders"""))

  // Temporal outputs are ISO strings on both sides: date32-vs-datetime64
  // representation skew between engines can't then break value hashing.
  private val q12 = Q("q12_minmax_dates",
    (s, d) => orders(s, d).agg(
      date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("min_date"),
      date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"),
      count(lit(1)).as("n")),
    Some("""SELECT strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
      strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date, COUNT(*) AS n FROM orders"""))

  // SURVEY §2.8 date derivations: full calendar dim from the orders range.
  // day_of_week is Monday=1 (pandas weekday+1 == DuckDB isodow).
  private val q13 = Q("q13_dim_date",
    (s, d) => DimDate.fromColumnRange(orders(s, d), "o_orderdate")
      .withColumn("date_id", date_format(col("date_id"), "yyyy-MM-dd")),
    Some("""WITH mm AS (SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
                               CAST(MAX(o_orderdate) AS DATE) AS hi FROM orders),
      days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date_id FROM mm)
      SELECT strftime(date_id, '%Y-%m-%d') AS date_id,
        CAST(year(date_id) AS INTEGER) AS year,
        CAST(quarter(date_id) AS INTEGER) AS quarter,
        CAST(month(date_id) AS INTEGER) AS month,
        strftime(date_id, '%B') AS month_name,
        CAST(day(date_id) AS INTEGER) AS day,
        CAST(isodow(date_id) AS INTEGER) AS day_of_week,
        isodow(date_id) >= 6 AS is_weekend,
        strftime(date_id, '%a') AS day_name
      FROM days"""))

  // SURVEY §2.2 P9: deterministic 63-bit hash surrogate key
  private val q14 = Q("q14_stable_hash_id",
    (s, d) => customer(s, d).select(col("c_custkey"),
      CleanExprs.stableId(col("c_name"), col("c_mktsegment"), col("c_nationkey"))
        .as("stable_id")),
    Some("""SELECT c_custkey,
      CAST(CAST(('0x' || substring(md5(c_name || '|' || c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR)), 1, 16)) AS UBIGINT)
           % 9223372036854775808 AS BIGINT) AS stable_id
      FROM customer"""))

  // SURVEY §2.2 P6/P7/P10: regex extraction, code validation, key coalesce
  private val q15 = Q("q15_cleaning_exprs",
    (s, d) => part(s, d).select(
      col("p_partkey"),
      regexp_extract(col("p_brand"), "([0-9]+)", 1).cast(IntegerType).as("brand_num"),
      regexp_extract(col("p_type"), "^([A-Za-z]+)", 1).as("type_head"),
      CleanExprs.stateCode(substring(col("p_name"), 1, 2)).as("code2"),
      CleanExprs.firstNonBlank(col("p_brand"), col("p_type")).as("product_key"),
      CleanExprs.numFromUnitStr(concat(col("p_size").cast(StringType), lit("cm")))
        .as("size_num")),
    Some("""SELECT p_partkey,
      CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INTEGER) AS brand_num,
      regexp_extract(p_type, '^([A-Za-z]+)', 1) AS type_head,
      CASE WHEN regexp_matches(upper(trim(substring(p_name, 1, 2))), '^[A-Z]{2}$')
           THEN upper(trim(substring(p_name, 1, 2))) END AS code2,
      COALESCE(NULLIF(trim(p_brand), ''), NULLIF(trim(p_type), '')) AS product_key,
      CAST(NULLIF(regexp_extract(CAST(p_size AS VARCHAR) || 'cm', '([0-9]+(?:\.[0-9]+)?)', 1), '') AS DOUBLE) AS size_num
      FROM part"""))

  // SURVEY §3.3: sequential-UPDATE taxonomy passes as when-chains
  private val q16 = Q("q16_taxonomy",
    (s, d) => Taxonomy.categorize(part(s, d))
      .groupBy(col("category"), col("subcategory"))
      .agg(count(lit(1)).as("n_parts")),
    Some("""WITH base AS (SELECT lower(p_name) AS nm, lower(p_type) AS ty,
              CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INTEGER) AS bn FROM part),
      s1 AS (SELECT *, CASE WHEN bn <= 15 THEN 'Metals'
                            WHEN bn BETWEEN 16 AND 35 THEN 'Finishes' END AS c1 FROM base),
      s2 AS (SELECT *, COALESCE(c1, CASE
                WHEN ty LIKE '%brass%' OR ty LIKE '%steel%' THEN 'Metals'
                WHEN ty LIKE '%polished%' OR ty LIKE '%brushed%' THEN 'Finishes'
                WHEN nm LIKE '%blue%' OR nm LIKE '%navy%' THEN 'Colorware' END) AS c2 FROM s1),
      s3 AS (SELECT *, CASE WHEN ty LIKE '%anodized%' THEN 'Anodized' ELSE c2 END AS c3 FROM s2),
      s4 AS (SELECT *, COALESCE(c3, 'Other') AS category FROM s3),
      s5 AS (SELECT category, CASE WHEN category = 'Metals' THEN COALESCE(CASE
                WHEN ty LIKE '%brass%' THEN 'Brass'
                WHEN ty LIKE '%steel%' THEN 'Steel'
                WHEN ty LIKE '%copper%' THEN 'Copper'
                WHEN ty LIKE '%nickel%' THEN 'Nickel'
                WHEN ty LIKE '%tin%' THEN 'Tin' END, 'Other Metals') END AS subcategory FROM s4)
      SELECT category, subcategory, COUNT(*) AS n_parts FROM s5 GROUP BY category, subcategory"""))

  // ------------------------------------------------- B: training-data ops
  // Exact dedup: shuffle a 16-byte fingerprint, never the text
  private val q17 = Q("q17_dedup_exact",
    (s, d) => Dedup.exact(documents(s, d), "doc_id", "text"),
    Some("""SELECT MIN(doc_id) AS doc_id,
      md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      FROM documents GROUP BY fp"""))

  // Quality scoring: length/punct/stopword signals + a composite score in
  // [0,1] (the filter column a training-data pipeline thresholds on)
  private val q18 = Q("q18_text_stats",
    (s, d) => {
      val nTok = TextExprs.tokenCount(col("text"))
      val stopRatio = round(
        TextExprs.vocabCount(lower(col("text")), TextExprs.langStopwords.head._2)
          .cast(DoubleType) / nTok, 6)
      val punctRatio = TextExprs.punctCount(col("text")).cast(DoubleType) / length(col("text"))
      val lenScore = least(nTok.cast(DoubleType) / 50, lit(1.0))
      documents(s, d).select(
        col("doc_id"),
        nTok.as("n_tokens"),
        length(col("text")).as("n_chars_m"),
        TextExprs.punctCount(col("text")).as("n_punct"),
        round(length(regexp_replace(col("text"), "\\s", "")).cast(DoubleType)
          / nTok, 6).as("avg_tok_len"),
        stopRatio.as("stop_ratio"),
        round(lenScore * (lit(1.0) - punctRatio), 6).as("quality"))
    },
    Some {
      val sw = TextExprs.langStopwords.head._2.map(w => s"'$w'").mkString(",")
      s"""SELECT doc_id,
      CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
      CAST(length(text) AS INTEGER) AS n_chars_m,
      CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS INTEGER) AS n_punct,
      ROUND(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
            / len(string_split_regex(trim(text), '\\s+')), 6) AS avg_tok_len,
      ROUND(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x IN ($sw))) AS DOUBLE)
            / len(string_split_regex(trim(text), '\\s+')), 6) AS stop_ratio,
      ROUND(LEAST(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 50, 1.0)
            * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)), 6) AS quality
      FROM documents"""
    })

  // Language-ID heuristic: first-argmax of per-language stopword hits
  private val q19 = Q("q19_lang_id", (s, d) => documents(s, d).select(
      col("doc_id"), col("lang"),
      TextExprs.langId(col("text")).as("pred_lang"))
      .withColumn("is_match", col("pred_lang") === col("lang")),
    Some {
      val cnts = TextExprs.langStopwords.map { case (l, sw) =>
        s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x IN (${sw.map(w => s"'$w'").mkString(",")}))) AS c_$l"
      }.mkString(", ")
      val langs = TextExprs.langStopwords.map(_._1)
      val greatest = s"GREATEST(${langs.map("c_" + _).mkString(",")})"
      val cases = langs.map(l => s"WHEN c_$l = $greatest THEN '$l'").mkString(" ")
      s"""WITH c AS (SELECT doc_id, lang, $cnts FROM documents)
        SELECT doc_id, lang,
          CASE WHEN $greatest = 0 THEN 'unk' $cases END AS pred_lang,
          (CASE WHEN $greatest = 0 THEN 'unk' $cases END) = lang AS is_match
        FROM c"""
    })

  /** DuckDB CTE producing distinct (doc, 32-bit shingle hash) postings —
    * mirrors Dedup.postings(ngram=3): hash first, then distinct, so
    * cross-engine-identical collisions fold identically. */
  private val shingleCte =
    """h AS (SELECT DISTINCT doc_id AS doc,
        CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS UBIGINT) AS BIGINT) AS hv
      FROM (SELECT doc_id,
              unnest(list_transform(range(len(tk) - 2),
                i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS tok
            FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents)
            WHERE len(tk) >= 3))"""

  // Shingle-set Jaccard near-dup pairs. 3-gram shingles keep the candidate
  // set near-linear (sharing a 3-gram is rare) — token-level Jaccard on a
  // small vocabulary degenerates to all-pairs.
  private val q20 = Q("q20_jaccard_dups",
    (s, d) => Dedup.jaccardPairs(documents(s, d), "doc_id", "text", 0.4, ngram = 3),
    Some(s"""WITH $shingleCte,
      sz AS (SELECT doc, COUNT(*) AS n FROM h GROUP BY doc),
      inter AS (SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS inter
                FROM h a JOIN h b ON a.hv = b.hv AND a.doc < b.doc
                GROUP BY a.doc, b.doc)
      SELECT d1, d2, ROUND(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
      FROM inter JOIN sz s1 ON d1 = s1.doc JOIN sz s2 ON d2 = s2.doc
      WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= 0.4"""))

  // MinHash + LSH banding candidates — oracle SQL generated from the same
  // hash constants the Spark operator uses
  private val q21 = Q("q21_minhash_lsh",
    (s, d) => Dedup.minhashLshCandidates(documents(s, d), "doc_id", "text",
      bands = 4, ngram = 3),
    Some {
      val p = Dedup.MinhashPrime
      val mins = Dedup.MinhashParams.zipWithIndex.map { case ((a, b), i) =>
        s"MIN(($a * hv + $b) % $p) AS m$i"
      }.mkString(", ")
      val bands = (0 until 4).map { bnd =>
        val cols = (bnd * 4 until (bnd + 1) * 4)
          .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || '_' || ")
        s"SELECT doc, $bnd AS band, md5($cols) AS bucket FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH $shingleCte,
        sig AS (SELECT doc, $mins FROM h GROUP BY doc),
        band AS ($bands)
        SELECT DISTINCT a.doc AS d1, b.doc AS d2
        FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc"""
    })

  // SimHash signatures — true 48-bit token hash (12 md5 hex chars) so every
  // pigeonhole band in q42 carries entropy; oracle generated from the same
  // bit plan. Spark side is the native one-pass SimHash48 expression (zero
  // exchanges for the signature pass).
  private val q22 = Q("q22_simhash",
    (s, d) => Dedup.simhash(documents(s, d), "doc_id", "text"),
    Some {
      val sums = (0 until 48).map(j =>
        s"SUM(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(", ")
      val bits = (0 until 48).map(j =>
        s"(CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      s"""WITH h AS (SELECT DISTINCT doc_id AS doc,
          CAST(CAST(('0x' || substring(md5(tok), 1, 12)) AS UBIGINT) AS BIGINT) AS hv FROM
          (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents)),
        s AS (SELECT doc, $sums FROM h GROUP BY doc)
        SELECT doc, CAST($bits AS BIGINT) AS simhash FROM s"""
    })

  // Document fingerprinting (rolling-hash analog over normalized text)
  private val q23 = Q("q23_fingerprint",
    (s, d) => documents(s, d).select(col("doc_id"),
      TextExprs.fingerprint(col("text")).as("fp")),
    Some("""SELECT doc_id,
      md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM documents"""))

  // Brute-force exact ANN baseline: top-5 cosine neighbors of 10 queries
  private val q24 = Q("q24_ann_cosine_topk",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.bruteTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
    },
    Some("""WITH q0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 10),
      q AS (SELECT q_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv FROM q0),
      c0 AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT n_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv FROM c0),
      scored AS (SELECT q_id, n_id, list_dot_product(qv, cv) AS cos
        FROM c, q WHERE q_id <> n_id),
      r AS (SELECT q_id, n_id, cos,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored)
      SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, ROUND(cos, 6) AS cos FROM r WHERE rank <= 5"""))

  // Tumbling-window event aggregation (batch face of the streaming op)
  private val q25 = Q("q25_events_hourly",
    (s, d) => events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast(DoubleType).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("total_value")),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY date_trunc('hour', ts), event_type"""))

  // Gap-based sessionization (lag + running sum over one user partitioning)
  private val q26 = Q("q26_sessionize",
    (s, d) => Sessionize.userSessionStats(events(s, d), "user_id", "ts", "event_id", 30),
    Some("""WITH l AS (SELECT user_id, ts, event_id,
        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
      s AS (SELECT user_id,
        SUM(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM l)
      SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      FROM s GROUP BY user_id"""))

  // SURVEY §2.4 A11: day-of-week trend (Monday=1)
  private val q27 = Q("q27_dow_trend",
    (s, d) => orders(s, d)
      .groupBy((weekday(col("o_orderdate")) + 1).as("day_of_week"),
        date_format(col("o_orderdate"), "EEE").as("day_name"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast(DoubleType).as("total_price"))
      .orderBy(col("day_of_week")),
    Some("""SELECT CAST(isodow(o_orderdate) AS INTEGER) AS day_of_week,
      strftime(o_orderdate, '%a') AS day_name, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders GROUP BY 1, 2 ORDER BY day_of_week"""))

  // SURVEY §2.3 J1 as an operator query: anti-join upsert round-trip —
  // inserting the unseen half reconstitutes the full table exactly
  private val q28 = Q("q28_upsert_antijoin",
    (s, d) => {
      val full = customer(s, d)
      val dim = full.where(col("c_custkey") <= 750)
      graft.operators.Upsert.antiJoinInsert(dim, full, Seq("c_custkey"))
    },
    Some("SELECT * FROM customer"))

  // SURVEY §2.3 J2 as an operator query: coalesce-update backfills masked
  // NULLs from the update side, restoring the original attribute values
  private val q29 = Q("q29_upsert_enrich",
    (s, d) => {
      val full = part(s, d).select(col("p_partkey"), col("p_name"), col("p_type"))
      val masked = full.withColumn("p_type",
        when(col("p_partkey") % 3 === 0, lit(null).cast(StringType))
          .otherwise(col("p_type")))
      graft.operators.Upsert.coalesceUpdate(masked, full,
        keys = Seq("p_partkey"), attrs = Seq("p_type"))
    },
    Some("SELECT p_partkey, p_name, p_type FROM part"))

  // Pushdown scan (TPC-H Q6 shape): date + predicate filters reach the
  // parquet reader; two-column ReadSchema
  private val q30 = Q("q30_pushdown_scan",
    (s, d) => lineitem(s, d)
      .where(col("l_shipdate") >= lit("1995-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1996-01-01").cast(TimestampType) &&
        col("l_discount").between(0.02, 0.04))
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n")),
    Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      COUNT(*) AS n FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        AND l_discount BETWEEN 0.02 AND 0.04"""))

  // Semi-structured column: JSON path extraction + bucket agg
  private val q31 = Q("q31_json_extract",
    (s, d) => events(s, d)
      .select((get_json_object(col("props"), "$.k").cast(IntegerType) % 10).as("k_bucket"))
      .groupBy(col("k_bucket")).agg(count(lit(1)).as("n")),
    Some("""SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
      COUNT(*) AS n FROM events GROUP BY 1"""))

  // LSH-bucketed ANN (the 100 TB path of q24): sign-bucket join, then
  // exact cosine only within buckets. Oracle rebuilds the same
  // deterministic hyperplanes as SQL literals.
  private val q32 = Q("q32_ann_lsh",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nPlanes = 8, dim = 64)
    },
    Some {
      val planes = Similarity.planes(8, 64)
      def bucketExpr(v: String): String = planes.map { p =>
        val arr = p.mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product($v, $arr) >= 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
      s"""WITH q0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 10),
        c0 AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        qb AS (SELECT q_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv,
               ${bucketExpr("v")} AS bucket FROM q0),
        cb AS (SELECT n_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv,
               ${bucketExpr("v")} AS bucket FROM c0),
        scored AS (SELECT q_id, n_id, list_dot_product(qv, cv) AS cos
          FROM cb JOIN qb USING (bucket) WHERE q_id <> n_id),
        r AS (SELECT q_id, n_id, cos,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored)
        SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, ROUND(cos, 6) AS cos FROM r WHERE rank <= 5"""
    })

  // Embedding-cosine near-dup pairs on the SELF-TUNING LSH path: the
  // plane count derives from the corpus count (target bucket occupancy
  // 64), so a 10x corpus gets ~log2(10) more planes and candidate pairs
  // grow ~linearly instead of quadratically (the fixed-nPlanes scale
  // defect SCALE.md measured as 17x time for 10x data). The oracle
  // reproduces the derivation exactly: same integer occupancy rule (a
  // CASE chain, no float log2), same hyperplanes — the 12-plane bucket
  // string is computed once and the first `nPlanes` bits are the bucket
  // (Similarity.planes(j, i) is independent of the plane count, so the
  // p-plane bucket IS the p-prefix of the 12-plane bucket).
  private val q33 = Q("q33_embedding_dups",
    (s, d) => Similarity.cosineDupPairsAuto(embeddings(s, d), "vec_id", "embedding",
      threshold = 0.4, targetBucket = 64, minPlanes = 1, maxPlanes = 12, dim = 64),
    Some {
      val maxPlanes = 12
      val planes = Similarity.planes(maxPlanes, 64)
      def bucketExpr(v: String): String = planes.map { p =>
        val arr = p.mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product($v, $arr) >= 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
      // smallest p in [1, 12] with count <= 64 * 2^p — integer-exact,
      // byte-matching Similarity.autoPlanes(count, 64, 1, 12)
      val npCase = "CASE " + (1 until maxPlanes).map(p =>
        s"WHEN cnt <= ${64L << p} THEN $p").mkString(" ") +
        s" ELSE $maxPlanes END"
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        np AS (SELECT $npCase AS p FROM (SELECT COUNT(*) AS cnt FROM c)),
        n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv,
              left(${bucketExpr("v")}, (SELECT p FROM np)) AS bucket FROM c),
        ba AS (SELECT vec_id AS d1, nv AS v1, bucket FROM n),
        bb AS (SELECT vec_id AS d2, nv AS v2, bucket FROM n),
        paired AS (SELECT d1, d2, list_dot_product(v1, v2) AS cos
          FROM ba JOIN bb USING (bucket) WHERE d1 < d2)
        SELECT d1, d2, ROUND(cos, 6) AS cos FROM paired WHERE cos >= 0.4"""
    })

  // Embedding-space decontamination: the semantic complement of q62's
  // n-gram pass — corpus rows within cosine 0.4 of ANY eval vector (the
  // first 20 ids) drop, catching paraphrased leakage exact shingles miss.
  // Eval broadcasts; anti probe early-exits per row; corpus never shuffles.
  private val q70 = Q("q70_embedding_decontam",
    (s, d) => graft.operators.Similarity.decontaminateByEmbedding(
        embeddings(s, d), embeddings(s, d).where(col("vec_id") < 20),
        "embedding", threshold = 0.4)
      .select(col("vec_id"), col("label")),
    Some("""WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
      n AS (SELECT vec_id, label,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv FROM c),
      e AS (SELECT nv AS ev FROM n WHERE vec_id < 20)
      SELECT vec_id, label FROM n
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE list_dot_product(nv, ev) >= 0.4)"""))

  // ---------------------------------------------- C: whole-ETL oracle
  // The complete reference ETL (clean → staging → dim upserts → fact load)
  // over reference-shaped rows synthesized from the testdata, checked
  // end-to-end against a DuckDB reconstruction of the same semantics.
  private val q34 = Q("q34_reference_etl_fact",
    (s, d) => {
      val wh = graft.etl.ReferenceShapedData.warehouse(s, d)
      wh.factSales
        .join(broadcast(wh.dimPlatform), Seq("platform_id"))
        // two-level aggregate: countDistinct beside sums would Expand the
        // fact 2x through the aggregate; grouping by customer first
        // collapses map-side, the re-aggregate counts groups (see q63)
        .groupBy(col("platform_name"), col("state_code"), col("customer_id"))
        .agg(sum(col("units")).as("__u"), count(lit(1)).as("__n"))
        .groupBy(col("platform_name"), col("state_code"))
        .agg(sum(col("__u")).as("units"),
          sum(col("__n")).as("n_lines"),
          count(lit(1)).as("n_customers"))
    },
    Some(s"""WITH ${graft.etl.ReferenceShapedData.oracleCtes}
      SELECT commercePlatform AS platform_name, state_code,
        CAST(SUM(goodsNumber) AS BIGINT) AS units, COUNT(*) AS n_lines,
        COUNT(DISTINCT customer_id) AS n_customers
      FROM fact GROUP BY commercePlatform, state_code"""))

  private val q35 = Q("q35_reference_etl_dims",
    (s, d) => {
      val wh = graft.etl.ReferenceShapedData.warehouse(s, d)
      wh.dimPlatform.agg(count(lit(1)).as("n_platforms"))
        .crossJoin(wh.dimProduct.agg(count(lit(1)).as("n_products")))
        .crossJoin(wh.dimCustomer.agg(count(lit(1)).as("n_customers")))
        .crossJoin(wh.dimDate.agg(count(lit(1)).as("n_dates"),
          date_format(min(col("date_id")), "yyyy-MM-dd").as("min_date"),
          date_format(max(col("date_id")), "yyyy-MM-dd").as("max_date")))
    },
    Some(s"""WITH ${graft.etl.ReferenceShapedData.oracleCtes}
      SELECT
        (SELECT COUNT(DISTINCT commercePlatform) FROM stg WHERE commercePlatform <> '') AS n_platforms,
        (SELECT COUNT(DISTINCT product_key) FROM stg WHERE product_key IS NOT NULL) AS n_products,
        (SELECT COUNT(DISTINCT customer_id) FROM stg) AS n_customers,
        (SELECT date_diff('day', CAST(MIN(submitTime) AS DATE), CAST(MAX(submitTime) AS DATE)) + 1 FROM stg) AS n_dates,
        (SELECT strftime(CAST(MIN(submitTime) AS DATE), '%Y-%m-%d') FROM stg) AS min_date,
        (SELECT strftime(CAST(MAX(submitTime) AS DATE), '%Y-%m-%d') FROM stg) AS max_date"""))

  // BPE-ish pre-tokenizer counts vs whitespace counts (token-budget
  // estimation for training-data pipelines)
  private val q36 = Q("q36_bpe_tokens",
    (s, d) => documents(s, d).select(
      col("doc_id"),
      TextExprs.bpeTokenCount(col("text")).as("n_bpe"),
      TextExprs.tokenCount(col("text")).as("n_ws")),
    Some(s"""SELECT doc_id,
      CAST(len(regexp_extract_all(text, '${TextExprs.bpePattern}', 0)) AS INTEGER) AS n_bpe,
      CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_ws
      FROM documents"""))

  // Winnowing (MOSS) fingerprints: windowed-min over positional shingle
  // hashes — the rolling-hash document fingerprinting operator
  private val q37 = Q("q37_winnowing",
    (s, d) => Dedup.winnowingFingerprints(documents(s, d), "doc_id", "text",
      ngram = 3, window = 4),
    Some("""WITH sh AS (SELECT doc_id AS doc,
        list_transform(range(len(tk) - 2),
          i -> CAST(CAST(('0x' || substring(md5(tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]), 1, 8)) AS UBIGINT) AS BIGINT)) AS arr
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents)
      WHERE len(tk) >= 3),
      p AS (SELECT doc, s[1] AS hv, s[2] AS pos FROM
        (SELECT doc, unnest(list_zip(arr, range(len(arr)))) AS s FROM sh)),
      wmin AS (SELECT doc,
        MIN(hv) OVER (PARTITION BY doc ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
        COUNT(*) OVER (PARTITION BY doc ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c
      FROM p)
      SELECT DISTINCT doc, m AS fp FROM wmin WHERE c = 4"""))

  // Full cube: every (nation × segment) subtotal combination — the BI
  // totals-row pattern generalized (grouping() disambiguates real NULLs)
  private val q38 = Q("q38_cube_totals",
    (s, d) => customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .cube(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(dec(col("c_acctbal"))).cast(DoubleType).as("total_acctbal"),
        grouping(col("n_name")).as("g1"),
        grouping(col("c_mktsegment")).as("g2"))
      .select(
        when(col("g1") === 1, lit("ALL")).otherwise(col("n_name")).as("n_name"),
        when(col("g2") === 1, lit("ALL")).otherwise(col("c_mktsegment")).as("segment"),
        col("n_cust"), col("total_acctbal")),
    Some("""SELECT
      CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS n_name,
      CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL' ELSE c_mktsegment END AS segment,
      COUNT(*) AS n_cust,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY CUBE (n_name, c_mktsegment)"""))

  // Exact percentiles (interpolated) per event_type — Spark's percentile
  // and DuckDB's quantile_cont share the linear-interpolation definition
  private val q39 = Q("q39_percentiles",
    (s, d) => events(s, d).groupBy(col("event_type")).agg(
      round(expr("percentile(value, 0.5)"), 6).as("p50"),
      round(expr("percentile(value, 0.95)"), 6).as("p95"),
      round(expr("percentile(value, 0.99)"), 6).as("p99"),
      round(min(col("value")), 6).as("vmin"),
      round(max(col("value")), 6).as("vmax")),
    Some("""SELECT event_type,
      ROUND(quantile_cont(value, 0.5), 6) AS p50,
      ROUND(quantile_cont(value, 0.95), 6) AS p95,
      ROUND(quantile_cont(value, 0.99), 6) AS p99,
      ROUND(MIN(value), 6) AS vmin, ROUND(MAX(value), 6) AS vmax
      FROM events GROUP BY event_type"""))

  // Running total with an explicit window frame (decimal prefix sums stay
  // exact, so the cumulative column is order-independent-identical)
  private val q40 = Q("q40_running_total",
    (s, d) => {
      val monthly = orders(s, d)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(dec(col("o_totalprice"))).as("m"))
      // cumulative-over-months is inherently one ordered partition; its
      // input is the monthly AGGREGATE (~80 rows), never order rows
      val w = Window.orderBy(col("month"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      monthly.select(col("month"),
        col("m").cast(DoubleType).as("monthly"),
        sum(col("m")).over(w).cast(DoubleType).as("cumulative"))
    },
    Some("""SELECT month, CAST(m AS DOUBLE) AS monthly,
      CAST(SUM(m) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cumulative
      FROM (SELECT strftime(o_orderdate, '%Y-%m') AS month,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m FROM orders GROUP BY 1)"""))

  // Quality-aware dedup: keep the longest copy per fingerprint
  private val q41 = Q("q41_dedup_keep_best",
    (s, d) => Dedup.exactKeepBest(documents(s, d), "doc_id", "text", "n_chars"),
    Some("""SELECT doc_id, fp, n_chars FROM (
      SELECT doc_id, n_chars,
        md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        ROW_NUMBER() OVER (
          PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
          ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents) WHERE rn = 1"""))

  // SimHash near-dups: pigeonhole byte-bands → exact hamming verify
  private val q42 = Q("q42_simhash_dups",
    (s, d) => Dedup.simhashNearDups(documents(s, d), "doc_id", "text", maxBits = 3),
    Some {
      // reuse q22's signature CTE (48-bit), then 12-bit band/bucket/pair
      val sums = (0 until 48).map(j =>
        s"SUM(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(", ")
      val bits = (0 until 48).map(j =>
        s"(CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      val bandRows = (0 to 3).map(b =>
        s"SELECT doc, simhash, $b AS band, (simhash >> ${b * 12}) & 4095 AS bucket FROM sig")
        .mkString(" UNION ALL ")
      s"""WITH h AS (SELECT DISTINCT doc_id AS doc,
          CAST(CAST(('0x' || substring(md5(tok), 1, 12)) AS UBIGINT) AS BIGINT) AS hv FROM
          (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents)),
        sums AS (SELECT doc, $sums FROM h GROUP BY doc),
        sig AS (SELECT doc, CAST($bits AS BIGINT) AS simhash FROM sums),
        band AS ($bandRows)
        SELECT DISTINCT a.doc AS d1, b.doc AS d2,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""
    })

  // Dashboard layer over the DURABLE warehouse (built+saved once per JVM,
  // like the reference's Power BI reading the persisted DB): semantic view
  // → executive overview (A7+W1) — the reporting path oracle-checked end
  // to end, including the parquet round trip.
  private val q43 = Q("q43_dashboard_units_by_state",
    (s, d) => {
      val wh = graft.sources.WarehouseStore.load(s,
        graft.etl.ReferenceShapedData.persistedWarehousePath(s, d))
      graft.etl.Dashboard.unitsByState(graft.etl.SemanticView.salesProductGeo(wh))
    },
    Some(s"""WITH ${graft.etl.ReferenceShapedData.oracleCtes}
      SELECT state_code, CAST(SUM(goodsNumber) AS BIGINT) AS units,
        ROUND(CAST(SUM(goodsNumber) AS DOUBLE) / SUM(SUM(goodsNumber)) OVER () * 100, 2) AS pct_of_total
      FROM fact GROUP BY state_code"""))

  // W2 over the durable warehouse: leading platform per state
  private val q44 = Q("q44_dashboard_platform_rank",
    (s, d) => {
      val wh = graft.sources.WarehouseStore.load(s,
        graft.etl.ReferenceShapedData.persistedWarehousePath(s, d))
      graft.etl.Dashboard.platformRankByState(graft.etl.SemanticView.salesProductGeo(wh))
    },
    Some(s"""WITH ${graft.etl.ReferenceShapedData.oracleCtes},
      agg AS (SELECT state_code, commercePlatform AS platform,
                CAST(SUM(goodsNumber) AS BIGINT) AS units
              FROM fact GROUP BY state_code, commercePlatform),
      r AS (SELECT state_code, platform, units,
              ROW_NUMBER() OVER (PARTITION BY state_code ORDER BY units DESC, platform) AS rn
            FROM agg)
      SELECT state_code, platform, units FROM r WHERE rn = 1"""))

  // ------------------------------------------- D: round-2 operator adds
  // Backward as-of join (point-in-time lookup): every click joined to the
  // user's most recent purchase at-or-before it. One shuffle on user_id
  // (union + running last-non-null window), never a per-key nested loop.
  private val q45 = Q("q45_asof_join",
    (s, d) => {
      val ev = events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(sum(dec(col("value"))).cast(DoubleType).as("purch_value"))
      graft.operators.AsOfJoin.backward(clicks, purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("purch_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purch_ts"),
          col("asof_purch_value").as("purch_value"))
    },
    Some("""WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      purch AS (SELECT user_id, ts, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purch_value
                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      SELECT c.event_id, c.user_id,
        strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purch_ts,
        p.purch_value
      FROM clicks c ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND c.ts >= p.ts"""))

  // Bounded range join via bucketization: same-user event pairs within 5
  // minutes, as an EQUI join on (user, time-bucket) — the inequality only
  // runs inside a bucket, so no per-key nested loop.
  private val q46 = Q("q46_range_join",
    (s, d) => graft.operators.RangeJoin.timeNeighborPairs(
      events(s, d), "user_id", "ts", "event_id", windowSec = 300),
    Some("""SELECT a.user_id, a.event_id AS e1, b.event_id AS e2,
        date_diff('microsecond', a.ts, b.ts) AS gap_us
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
       AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))"""))

  // IVF ANN search (the index-backed scale path of q24): deterministic
  // k-means centroids -> inverted file -> nProbe cell probes. Probing ALL
  // 16 cells makes the result exactly the brute-force top-k, so the whole
  // IVF machinery (assignment covers the corpus, probe join, scoring,
  // per-query rank) is hash-checked against a DuckDB oracle; the
  // approximation property at reduced probes (nProbe=4) is bounded
  // separately by IvfIndexSpec against the exact baseline.
  private val q47 = Q("q47_ann_ivf",
    (s, d) => {
      val emb = embeddings(s, d)
      val model = graft.operators.IvfIndex.train(emb, "vec_id", "embedding", k = 16)
      val index = graft.operators.IvfIndex.assign(emb, "vec_id", "embedding", model)
      // .limit(10) bounds the plan's maxRows so the broadcast guard
      // short-circuits without its probe job (the filter yields exactly
      // the 10 rows the limit admits — same frame, cheaper guard).
      graft.operators.IvfIndex.search(index,
        emb.where(col("vec_id") < 10).limit(10),
        "vec_id", "embedding", model, k = 5, nProbe = 16)
    },
    // exact-equivalence oracle: all-cells probe == brute force. The cosine
    // is computed with the same single-pass fold (dot, norm-a, norm-b
    // accumulated in one loop) as VectorNative.evalCosine, so the float64
    // results are bit-identical to DuckDB's left-fold list_dot_product.
    Some("""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        scored AS (SELECT q_id, n_id,
            list_dot_product(qv, cv) /
              (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
          FROM q CROSS JOIN c WHERE q_id <> n_id),
        r AS (SELECT q_id, n_id, cos,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored)
        SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, ROUND(cos, 6) AS cos
        FROM r WHERE rank <= 5"""))

  // Approximate sketches (HLL distinct + quantile sketch): the constant-
  // memory substitutes for q11's exact countDistinct and q39's exact
  // percentiles at 100 TB. The sketch VALUES are engine-specific (DuckDB's
  // approx algorithms differ), but the exact companions and the error
  // bounds are not: the oracle checks n / n_users exactly and each sketch
  // as a within-tolerance boolean (a degraded sketch flips it to false and
  // fails the hash). SketchSpec additionally bounds the error numerically.
  private val q48 = Q("q48_approx_sketches",
    (s, d) => {
      val ev = events(s, d)
      // countDistinct mixed into the same agg as the sketches would force
      // an Expand plan (every input row duplicated per distinct-agg, all
      // other aggregates recomputed over the expanded rows — measured 3.4s
      // extra at sf0.1); the exact-distinct companion runs as its own
      // narrow pass and joins back over 5 group rows.
      val sk = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("hll_users"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50_sketch"),
        expr("percentile(value, 0.5)").as("p50_exact"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      sk.join(broadcast(exact), Seq("event_type"))
        .select(col("event_type"), col("n"), col("n_users"),
          (abs(col("hll_users") - col("n_users"))
            <= col("n_users") * 0.10).as("hll_within_10pct"),
          (abs(col("p50_sketch") - col("p50_exact"))
            <= abs(col("p50_exact")) * 0.05 + lit(1e-9)).as("p50_within_5pct"))
    },
    Some("""SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
      TRUE AS hll_within_10pct, TRUE AS p50_within_5pct
      FROM events GROUP BY event_type"""))

  // Multimodal REAL-decode round trip through the driver contract: per
  // document a deterministic pixel field (value = (seed + 31x + 13y + 7c)
  // mod 256, alternating grayscale/RGB) is encoded as a REAL PNG — zlib
  // deflate, filter type rotating y mod 5 — then decoded back by
  // PngCodec inside the batched feature extractor. Every fifth document
  // is instead a REAL GIF89a (round-10 verdict #4): palette indices from
  // the same rolling field, a 256-color palette (j, 7j mod 256, 13j mod
  // 256), REAL LZW compression — decoded back by GifCodec (dictionary
  // growth, palette expansion). The oracle recomputes width/height/
  // brightness from the SAME synthesis formulas in SQL, so a green row
  // proves the full deflate→inflate→unfilter path AND the
  // LZW→palette-expand path recover every pixel exactly (any filter/
  // inflate/dictionary bug shifts the mean). Payload bytes never shuffle
  // — the narrow mapPartitions emits KB-scale features only. Brightness
  // is 6-decimal half-up quantized in integer space (the q87 micro-unit
  // rule), so both engines divide the same exact integers.
  private val q50 = Q("q50_multimodal_features",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nChars) =>
          val w = 1 + (id % 48).toInt
          val h = 1 + (nChars % 32).toInt
          val seed = (id % 251).toInt
          if (id % 5 == 0) {
            val palette = Array.tabulate(256)(j =>
              (j << 16) | (((j * 7) % 256) << 8) | ((j * 13) % 256))
            val idx = Array.tabulate(w * h)(i =>
              (seed + 31 * (i % w) + 13 * (i / w)) % 256)
            MediaRow(id, "image/gif",
              graft.multimodal.GifCodec.encode(w, h, palette, idx),
              MediaMeta("synth", Some(w), Some(h), None))
          } else {
            val ch = if (id % 2 == 0) 1 else 3
            val samples = Array.tabulate(w * h * ch) { i =>
              val c = i % ch; val x = (i / ch) % w; val y = i / (ch * w)
              (seed + 31 * x + 13 * y + 7 * c) % 256
            }
            MediaRow(id, "image/png",
              graft.multimodal.PngCodec.encode(w, h, ch, samples),
              MediaMeta("synth", Some(w), Some(h), None))
          }
        }
      graft.multimodal.Multimodal.imageFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          (col("width").cast("long") * col("height")).as("n_pixels"),
          col("brightness"))
    },
    Some("""WITH p AS (SELECT doc_id,
          1 + doc_id % 48 AS w,
          1 + CAST(n_chars AS BIGINT) % 32 AS h,
          CASE WHEN doc_id % 5 = 0 THEN 3
               WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
          doc_id % 5 = 0 AS gif,
          doc_id % 251 AS seed
        FROM documents),
      s AS (SELECT doc_id, w, h, ch,
          CASE WHEN gif THEN
            list_sum(list_transform(range(w*h), i ->
              (seed + 31*(i % w) + 13*(i // w)) % 256
              + ((seed + 31*(i % w) + 13*(i // w)) % 256) * 7 % 256
              + ((seed + 31*(i % w) + 13*(i // w)) % 256) * 13 % 256))
          ELSE
            list_sum(list_transform(range(w*h*ch), i ->
              (seed + 31*((i // ch) % w) + 13*(i // (ch*w)) + 7*(i % ch)) % 256))
          END AS sm
        FROM p)
      SELECT doc_id AS media_id,
        CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        CAST(w*h AS BIGINT) AS n_pixels,
        CAST((sm*2000000 + w*h*ch*255) // (2*w*h*ch*255) AS DOUBLE)
          / 1000000.0 AS brightness
      FROM s"""))

  // Multimodal metadata facet — the pure-SQL half of the media frame
  // (payload length, content digest, typed meta), oracle-checked so the
  // binary-column PLUMBING is verified even though the stub decode
  // (q50) can't be: the payload bytes round-trip Spark's binary column
  // exactly (md5 parity), and stay out of any shuffle.
  private val q57 = Q("q57_multimodal_stats",
    (s, d) => {
      val media = documents(s, d).select(
        col("doc_id").as("media_id"),
        lit("image/stub").as("mime"),
        encode(col("text"), "UTF-8").as("content"),
        struct(col("source"),
          lit(null).cast(IntegerType).as("width"),
          lit(null).cast(IntegerType).as("height"),
          lit(null).cast(LongType).as("duration_ms")).as("meta"))
      graft.multimodal.Multimodal.payloadStats(media)
    },
    // md5(text) == md5 of the UTF-8 payload bytes — same digest both ways
    Some("""SELECT doc_id AS media_id, 'image/stub' AS mime,
      CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      md5(text) AS content_md5,
      CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height
      FROM documents"""))

  // Salted skew join: identical result set to the plain equi join (the
  // oracle IS the plain join), with hot keys split across `factor`
  // reducers. The fact side never broadcasts.
  private val q49 = Q("q49_salted_join",
    (s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey"), col("l_linenumber"))
      val ord = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin.saltedJoin(li, ord, Seq("o_orderkey"), factor = 8)
    },
    Some("""SELECT l_orderkey AS o_orderkey, l_partkey, l_linenumber, o_orderpriority
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""))

  // Persisted-warehouse round trip (S4-S7 + the reference's durable DB,
  // /root/reference/sql/schema/fact_sales.Table.sql): the ETL warehouse
  // lands ONCE in the (p_year, p_month)-partitioned parquet layout, then
  // the 1995 dashboard reads it BACK — the year filter hits the partition
  // column before it's dropped, so only 1995's ~12 directories of the
  // ~80-partition table are listed and scanned (PartitionFilters asserted
  // in PlanShapeSpec). This is the amortized path for q34's fixed cost:
  // persist once, prune every query after.
  private val q51 = Q("q51_warehouse_pruned",
    (s, d) => {
      val path = graft.etl.ReferenceShapedData.persistedWarehousePath(s, d)
      graft.sources.WarehouseStore.loadFactYear(s, path, 1995)
        .groupBy(col("p_month"), col("customer_id"))
        .agg(sum(col("units")).as("__u"))
        .groupBy(col("p_month"))
        .agg(sum(col("__u")).as("units"),
          count(lit(1)).as("n_customers"))
        .select(col("p_month").cast(IntegerType).as("month"),
          col("units"), col("n_customers"))
    },
    Some(s"""WITH ${graft.etl.ReferenceShapedData.oracleCtes}
      SELECT CAST(month(CAST(submitTime AS DATE)) AS INTEGER) AS month,
        CAST(SUM(goodsNumber) AS BIGINT) AS units,
        COUNT(DISTINCT customer_id) AS n_customers
      FROM fact WHERE year(CAST(submitTime AS DATE)) = 1995
      GROUP BY 1"""))

  // ------------------------------------------- E: corpus-prep operators
  // Deterministic hash sampling: the reproducible train/holdout split.
  // The oracle reproduces the exact subset from md5 alone — no RNG.
  private val q52 = Q("q52_deterministic_sample",
    (s, d) => graft.operators.TrainingData
      .deterministicSample(documents(s, d), "doc_id", permille = 200)
      .select(col("doc_id"), col("lang"), col("n_chars")),
    Some("""SELECT doc_id, lang, n_chars FROM documents
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 16)) AS UBIGINT)
            % 9223372036854775808 % 1000 < 200"""))

  // Stratified rebalance: downsample English to 20%, keep half of
  // everything else — per-language deterministic rates on the same
  // engine-portable hash key.
  private val q64 = Q("q64_stratified_sample",
    (s, d) => graft.operators.TrainingData
      .stratifiedSample(documents(s, d), "doc_id", "lang",
        Map("en" -> 200), defaultPermille = 500)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs")),
    Some("""SELECT lang, COUNT(*) AS n_docs FROM documents
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 16)) AS UBIGINT)
            % 9223372036854775808 % 1000
            < CASE WHEN lang = 'en' THEN 200 ELSE 500 END
      GROUP BY lang"""))

  // Greedy sequence packing into 2048-token bins, sharded by language
  // (the shard key is the parallelism unit; a global pack would serialize
  // through one task). Verified at bin granularity.
  private val q53 = Q("q53_sequence_packing",
    (s, d) => graft.operators.TrainingData
      .packSequences(documents(s, d), "lang", "doc_id", "text", budget = 2048)
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens")),
    Some("""WITH t AS (SELECT lang, doc_id,
          len(string_split_regex(trim(text), '\s+')) AS n_tokens FROM documents),
        c AS (SELECT lang, doc_id, n_tokens,
          SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_tokens AS prior FROM t)
      SELECT lang, CAST(FLOOR(CAST(prior AS DOUBLE) / 2048) AS BIGINT) AS bin,
        COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens
      FROM c GROUP BY 1, 2"""))

  // PII redaction audit: deterministic synthetic PII (built identically by
  // both engines from doc_id) injected, then emails/digit runs redacted;
  // the md5 of the redacted text pins the exact output string.
  private val q54 = Q("q54_pii_redaction",
    (s, d) => {
      val withPii = documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com ref "), col("doc_id")).as("text"))
      graft.operators.TrainingData.redactPii(withPii, "text")
        .select(col("doc_id"), col("n_emails"), col("n_numbers"),
          md5(col("redacted")).as("redacted_md5"))
    },
    Some(s"""WITH p AS (SELECT doc_id,
          text || ' contact user' || doc_id || '@mail.example.com ref ' || doc_id AS text
        FROM documents),
      e AS (SELECT doc_id,
          len(regexp_extract_all(text, '${graft.operators.TrainingData.EmailPattern}')) AS n_emails,
          regexp_replace(text, '${graft.operators.TrainingData.EmailPattern}', '<EMAIL>', 'g') AS no_email
        FROM p)
      SELECT doc_id, CAST(n_emails AS INTEGER) AS n_emails,
        CAST(len(regexp_extract_all(no_email, '[0-9]+')) AS INTEGER) AS n_numbers,
        md5(regexp_replace(no_email, '[0-9]+', '<NUM>', 'g')) AS redacted_md5
      FROM e"""))

  // The STREAMING face of q25 through the oracle gate: a real
  // Structured Streaming query (file source → watermarked tumbling-window
  // aggregate → memory sink) drained with Trigger.AvailableNow must
  // produce exactly the batch answer — so the batch SQL IS its oracle.
  // Complete output mode: end-of-stream watermark would hold back the
  // final windows in append mode; with one drained source there is no
  // late data to drop, so streaming == batch row-for-row.
  private val q58 = Q("q58_streaming_hourly",
    (s, d) => {
      drainToMemory(s, "graft_q58_sink", "complete") {
        graft.streaming.EventStreams.hourlyAgg(eventsStream(s, d))
      }.select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("total_value"))
    },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY date_trunc('hour', ts), event_type"""))

  // Exactly-once-style streaming ingest through the gate: the source dir
  // holds the events table TWICE (simulated at-least-once re-delivery);
  // dropDuplicatesWithinWatermark must collapse the duplicates so the
  // drained counts equal the single-copy batch oracle. The in-test
  // horizon is effectively unbounded (no state GC) so the check is
  // exact; production picks a horizon = its re-delivery window.
  private val q71 = Q("q71_streaming_dedup",
    (s, d) => {
      val dir = staged("stream_dup", d) { f =>
        Seq("a", "b").foreach(n =>
          stageParquetCopy(s"$d/events.parquet", f, s"events_$n"))
      }
      val ev = Tables.readEventsStream(s, dir.getAbsolutePath)
      drainToMemory(s, "graft_q71_sink", "complete") {
        graft.streaming.EventStreams
          .dedupedEvents(ev, watermarkHorizon = "87600 hours")
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      }
    },
    Some("SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"))

  // Arbitrary-stateful streaming through the gate: the
  // flatMapGroupsWithState sessionizer drains the events stream and its
  // final per-user state must equal the batch window formulation — q26's
  // oracle SQL verifies a streaming operator with custom state.
  private val q65 = Q("q65_streaming_sessions",
    (s, d) => {
      import s.implicits._
      val ev = eventsStream(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[graft.streaming.EventStreams.Event]
      // one drained batch → one (final) row per user; the max-agg keeps
      // the reduction robust if the source ever arrives as several files
      drainToMemory(s, "graft_q65_sink", "update") {
        graft.streaming.EventStreams.sessionize(ev, gapMinutes = 30).toDF()
      }.groupBy(col("user_id"))
        .agg(max(col("n_sessions")).as("n_sessions"),
          max(col("n_events")).as("n_events"))
    },
    Some("""WITH l AS (SELECT user_id, ts, event_id,
        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
      s AS (SELECT user_id,
        SUM(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM l)
      SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      FROM s GROUP BY user_id"""))

  // Incremental streaming ETL ≡ batch ETL ≡ oracle: the same orders
  // arrive as two CSV drops, each its own micro-batch through the
  // foreachBatch upsert pipeline (the second upserts against a non-empty
  // warehouse), and the final fact aggregate must hash-match q34's batch
  // answer — which the DuckDB oracle reconstructs independently. The
  // strongest idempotence/exactly-once claim the gate can make.
  private val q66 = Q("q66_incremental_etl",
    (s, d) => {
      val wh = incrementalWarehouse(s, d)
      wh.factSales
        .join(broadcast(wh.dimPlatform), Seq("platform_id"))
        .groupBy(col("platform_name"), col("state_code"), col("customer_id"))
        .agg(sum(col("units")).as("__u"), count(lit(1)).as("__n"))
        .groupBy(col("platform_name"), col("state_code"))
        .agg(sum(col("__u")).as("units"),
          sum(col("__n")).as("n_lines"),
          count(lit(1)).as("n_customers"))
    },
    Some(s"""WITH ${graft.etl.ReferenceShapedData.oracleCtes}
      SELECT commercePlatform AS platform_name, state_code,
        CAST(SUM(goodsNumber) AS BIGINT) AS units, COUNT(*) AS n_lines,
        COUNT(DISTINCT customer_id) AS n_customers
      FROM fact GROUP BY commercePlatform, state_code"""))

  // Dedup clustering: q20's near-dup pairs resolved into connected
  // components (one canonical doc per cluster). Spark side is iterative
  // min-label propagation; the oracle computes the same fixpoint via a
  // recursive-CTE transitive closure — independently derived semantics.
  // ONE reachability oracle for all three clustering variants (q56
  // propagation, q79 star contraction, q89 auto chooser): same pair
  // graph, same min-reachable-id contract — a threshold/ngram tweak
  // edits exactly one place.
  private lazy val componentsOracleSql = s"""WITH RECURSIVE $shingleCte,
      sz AS (SELECT doc, COUNT(*) AS n FROM h GROUP BY doc),
      inter AS (SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS inter
                FROM h a JOIN h b ON a.hv = b.hv AND a.doc < b.doc
                GROUP BY a.doc, b.doc),
      pairs AS (SELECT d1, d2
        FROM inter JOIN sz s1 ON d1 = s1.doc JOIN sz s2 ON d2 = s2.doc
        WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= 0.4),
      edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                UNION SELECT d2, d1 FROM pairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      mn AS (SELECT src, MIN(dst) AS m FROM reach GROUP BY src)
      SELECT d.doc_id AS doc,
        CAST(LEAST(d.doc_id, COALESCE(mn.m, d.doc_id)) AS BIGINT) AS component
      FROM documents d LEFT JOIN mn ON d.doc_id = mn.src"""

  private val q56 = Q("q56_dedup_clusters",
    (s, d) => {
      val docs = documents(s, d)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.4, ngram = 3)
      Dedup.components(docs, "doc_id", pairs)
    },
    Some(componentsOracleSql))

  // Same clusters via large-star/small-star contraction (O(log n) rounds
  // for graphs too deep for q56's propagation) — independently implemented
  // algorithm, same transitive-closure oracle.
  private val q79 = Q("q79_dedup_clusters_star",
    (s, d) => {
      val docs = documents(s, d)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.4, ngram = 3)
      Dedup.componentsStar(docs, "doc_id", pairs)
    },
    Some(componentsOracleSql))

  // The chooser through the gate: same clustering contract as q56/q79,
  // but the algorithm is PICKED at runtime — a bounded label-prop probe
  // (the near-dup graph converges inside it here) with star-contraction
  // fallback. Same reachability oracle as q79.
  private val q89 = Q("q89_dedup_clusters_auto",
    (s, d) => {
      val docs = documents(s, d)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.4, ngram = 3)
      Dedup.componentsAuto(docs, "doc_id", pairs)
    },
    Some(componentsOracleSql))

  // Exact-count domain quotas through the custom TopKPerKey physical
  // operator: exactly min(quota, count) docs per listed source, selected
  // in 63-bit-hash order (id tie-break) — the oracle is the equivalent
  // per-domain ROW_NUMBER prefix. src1's over-ask keeps the whole
  // domain; unlisted sources drop.
  private val q90 = Q("q90_domain_quota_exact",
    (s, d) => graft.operators.TrainingData
      .mixToQuotasExact(documents(s, d), "doc_id", "source",
        Map("src0" -> 37L, "src1" -> 100000L, "src2" -> 1L))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars")),
    Some("""WITH spec AS (SELECT * FROM (VALUES
          ('src0', 37), ('src1', 100000), ('src2', 1)) AS t(dom, quota)),
      r AS (SELECT d.doc_id, d.source, d.lang, d.n_chars, s.quota,
              ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY
                CAST(CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 16))
                  AS UBIGINT) % 9223372036854775808 AS BIGINT), d.doc_id) AS rk
            FROM documents d JOIN spec s ON d.source = s.dom)
      SELECT doc_id, source, lang, n_chars FROM r WHERE rk <= quota"""))

  // JSONL ingest through the gate: the documents table staged once per
  // JVM as gzip JSONL parts (the format corpora actually arrive in),
  // read back with an EXPLICIT schema + corrupt-record audit column, and
  // proven LOSSLESS against the parquet original — md5(text) survives
  // the JSON escape round trip, every row parses (n_bad = 0).
  private val q91 = Q("q91_jsonl_ingest",
    (s, d) => {
      val dir = staged("jsonl", d) { f =>
        documents(s, d).write.mode("overwrite")
          .option("compression", "gzip").json(f.getAbsolutePath)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", LongType),
        org.apache.spark.sql.types.StructField("text", StringType),
        org.apache.spark.sql.types.StructField("lang", StringType),
        org.apache.spark.sql.types.StructField("source", StringType),
        org.apache.spark.sql.types.StructField("n_chars", LongType)))
      graft.sources.JsonlIngest.read(s, dir.getAbsolutePath, schema)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_bad"),
          min(md5(col("text"))).as("first_md5"))
    },
    Some("""SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(0 AS BIGINT) AS n_bad,
        MIN(md5(text)) AS first_md5
      FROM documents GROUP BY lang, source"""))

  // REAL image-header parsing through the gate: per-row VALID container
  // bytes (PNG / JPEG / GIF by doc_id mod 3, dims derived from doc
  // fields) are assembled with SQL byte functions, then image_meta
  // parses them back — construction (hex/concat) and parse (the native
  // header walker) are independent code paths, so the oracle's direct
  // recomputation of the expected dims certifies the parser end-to-end.
  private val q92 = Q("q92_image_meta",
    (s, d) => {
      def be(x: Column, hexDigits: Int) =
        unhex(lpad(hex(x), hexDigits, "0"))
      def le2(x: Column) = {
        val hx = lpad(hex(x), 4, "0")
        unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
      }
      val w = (lit(1) + pmod(col("doc_id"), lit(509))).cast(IntegerType)
      val h = (lit(1) + pmod(col("n_chars"), lit(497))).cast(IntegerType)
      // sig + IHDR(len 13): w, h BE u32; depth 8, color type 6 (RGBA)
      val png = concat(
        unhex(lit("89504E470D0A1A0A0000000D49484452")),
        be(w, 8), be(h, 8), unhex(lit("0806000000")))
      // SOI + SOF0(len 17): precision 8, h, w BE u16, 3 components
      val jpeg = concat(
        unhex(lit("FFD8FFC0001108")),
        be(h, 4), be(w, 4), unhex(lit("03012200021101031101")))
      // GIF89a logical screen: w, h LE u16; flags 0x70 (color res 8), 3ch
      val gif = concat(
        encode(lit("GIF89a"), "UTF-8"), le2(w), le2(h), unhex(lit("700000")))
      val content = when(pmod(col("doc_id"), lit(3)) === 0, png)
        .when(pmod(col("doc_id"), lit(3)) === 1, jpeg)
        .otherwise(gif)
      val m = graft.functions.ImageMetaExpr.imageMeta(content)
      documents(s, d).select(col("doc_id"), m.as("__m"))
        .select(col("doc_id"),
          col("__m.format").as("format"),
          col("__m.width").as("width"),
          col("__m.height").as("height"),
          col("__m.bit_depth").as("bit_depth"),
          col("__m.channels").as("channels"))
    },
    Some("""SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END
          AS format,
        CAST(1 + doc_id % 509 AS INTEGER) AS width,
        CAST(1 + n_chars % 497 AS INTEGER) AS height,
        8 AS bit_depth,
        CASE doc_id % 3 WHEN 0 THEN 4 ELSE 3 END AS channels
      FROM documents"""))

  /** Collision-free suffix for per-corpus staged fixtures: the FULL
    * path sanitized PLUS a digest of the raw path — sanitizing alone
    * maps distinct paths together ('/a/b', '/a_b', '/a.b' all become
    * '_a_b'), which would recreate the cross-corpus staging overwrite
    * this exists to eliminate; the sha-256 prefix separates them. */
  private[graft] def stagingSuffix(d: String): String = {
    // alnum+underscore only: the suffix also names Spark SQL TABLES
    // (bucketedTables), where dots/dashes are invalid identifiers
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    d.replaceAll("[^A-Za-z0-9]", "_") + "_" + digest
  }

  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.io.File]()

  /** The fixture directory `tmpdir/graft_<tag>_<stagingSuffix(d)>`, filled
    * by `build` once per JVM per `(tag, d)` (the memo is keyed by the
    * directory itself). The directory is ALWAYS deleted and recreated
    * before `build` runs: a leftover from an earlier JVM would leak into
    * this run — a stale copy doubles a stream's source, and a leftover
    * versioned store makes this run's save commit v4+, shifting every
    * manifest version a query pins. A `build` that throws leaves no memo
    * entry, so the next call builds again.
    *
    * Only the File is memoized, never a frame: the bench sweep unpersists
    * every persistent RDD between queries, so a cross-query memo may hold
    * durable files only. */
  private[graft] def staged(tag: String, d: String)(
      build: java.io.File => Unit): java.io.File = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${stagingSuffix(d)}")
    stagedDirs.computeIfAbsent(dir.getPath, _ => {
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      dir.mkdirs()
      build(dir)
      dir
    })
  }

  /** Every stateful streaming op runs one state-store instance per
    * shuffle partition (per side, for joins); draining one staged batch
    * makes the per-instance open/commit cost dominate the actual work at
    * 32 partitions. Pin the streaming query's parallelism low for the
    * start+drain, restore after — restore must wait for the DRAIN, not
    * just start(): micro-batch planning is async and reads the conf then.
    * On a real continuous cluster deployment the right setting is the
    * cluster's core count; this is the drain-one-batch harness tuning. */
  private[graft] def withStreamingParallelism(
      s: SparkSession, n: Int = 8)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      start.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Drain the streaming frame `df` into the memory sink `sink` with one
    * AvailableNow run (see [[withStreamingParallelism]]); the drained
    * table. `df` is by-name so it is built under the pinned parallelism. */
  private[graft] def drainToMemory(s: SparkSession, sink: String,
                                   mode: String)(df: => DataFrame): DataFrame = {
    withStreamingParallelism(s) {
      df.writeStream.format("memory").queryName(sink).outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    s.table(sink)
  }

  /** The events table as a file stream: the source streams a DIRECTORY
    * (new files get picked up), so the fixture file is staged into one
    * once per JVM, then read like [[Tables.events]]. */
  private[graft] def eventsStream(s: SparkSession, d: String): DataFrame =
    Tables.readEventsStream(s, staged("stream", d) { f =>
      stageParquetCopy(s"$d/events.parquet", f, "events")
    }.getAbsolutePath)

  /** Write `df` as ONE parquet part-file named `name.parquet` in `dir`
    * with a forced modification time — the file-stream staging for
    * multi-batch gates: `maxFilesPerTrigger=1` + strictly increasing
    * modTimes pin the BATCH ORDER (FileStreamSource admits oldest
    * first), which is what makes watermark-advance/evict/re-deliver
    * scenarios deterministic. */
  private[graft] def stageStreamFile(df: DataFrame, dir: java.io.File,
                                     name: String, modTime: Long): Unit = {
    val tmp = new java.io.File(dir, s".stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet"))
    require(part.length == 1, s"stageStreamFile: ${part.length} parts")
    val dst = new java.io.File(dir, s"$name.parquet")
    java.nio.file.Files.move(part(0).toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    require(dst.setLastModified(modTime), s"stageStreamFile: modTime $dst")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  /** `df` staged into `in` as two pinned-order files — even `idCol`
    * first (`a_even`), odd two seconds later (`b_odd`) — and read back
    * as a stream admitting one file per micro-batch. */
  private[graft] def evenOddStream(s: SparkSession, in: java.io.File,
                                   df: DataFrame, idCol: String): DataFrame = {
    in.mkdirs()
    val t0 = System.currentTimeMillis()
    stageStreamFile(df.where(col(idCol) % 2 === 0), in, "a_even", t0)
    stageStreamFile(df.where(col(idCol) % 2 === 1), in, "b_odd", t0 + 2000)
    val rawSchema = ManifestRelation.readParquet(s, in.getAbsolutePath).schema
    s.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in.getAbsolutePath)
  }

  /** Stage a deterministic orders subset as BOTH Excel formats (durable
    * files, sweep-safe): one inline-string .xlsx and one BIFF8 .xls,
    * written by [[graft.sources.ExcelFixture]] from the parquet rows the
    * oracle reads directly. Values are stringified IN SPARK (cast), so
    * the workbook holds exactly the strings the oracle's VARCHAR casts
    * produce. Bounded: the subset is o_orderkey % 997 = 0 capped at the
    * first 300 keys (~150 rows at sf0.1, cap binding only at sf1.0+) —
    * deterministic (keys unique, ordered) and safely under the writer's
    * single-FAT-sector limit at any corpus size. */
  private def stagedExcel(s: SparkSession, d: String): java.io.File =
    staged("excel", d) { dir =>
      val rows = Tables.orders(s, d)
        .where(col("o_orderkey") % 997 === 0)
        .orderBy(col("o_orderkey"))
        .limit(300)
        .select(col("o_orderkey").cast("string"),
          col("o_custkey").cast("string"),
          col("o_orderstatus"),
          col("o_orderdate").cast("string"))
        .collect()
      require(rows.length <= 2000, s"excel fixture too big: ${rows.length}")
      val hdr = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
      val data = rows.toSeq.map(r => (0 until 4).map(r.getString))
      graft.sources.ExcelFixture.writeXlsx(hdr, data,
        new java.io.File(dir, "orders.xlsx").getAbsolutePath)
      graft.sources.ExcelFixture.writeXls(hdr, data,
        new java.io.File(dir, "orders.xls").getAbsolutePath)
    }

  /** Stage a parquet table into a streaming-source dir under `prefix`.
    * The driver fixtures are single files, but engine-written tables
    * (warehouse output, the sf1.0 scale corpus) are DIRECTORIES of part
    * files — copy whichever shape `src` is, flattened with stable names
    * into a fresh [[staged]] directory. */
  private[graft] def stageParquetCopy(src: String, dstDir: java.io.File,
                                      prefix: String): Unit = {
    val s = new java.io.File(src)
    val parts =
      if (s.isDirectory)
        s.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
      else Seq(s)
    parts.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.copy(p.toPath,
        new java.io.File(dstDir, f"${prefix}_$i%04d.parquet").toPath)
    }
  }

  private val incrementalWh =
    new java.util.concurrent.ConcurrentHashMap[String, graft.etl.OrderEtl.Warehouse]()

  /** Stream the reference-shaped orders through the incremental-ingest
    * pipeline: two CSV drops, one foreachBatch upsert per drop (the
    * second batch exercises the anti-join upserts against a NON-empty
    * warehouse), final warehouse returned. Once per JVM per sf dir.
    *
    * The memoized warehouse is PARQUET-backed, not checkpoint-backed:
    * every cross-query memo must hold durable files only, because the
    * bench sweep unpersists all persistent RDDs between queries — a
    * memoized localCheckpoint frame would die on reuse with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (round-9 lesson). [[staged]]
    * enforces this by type (it memoizes only a java.io.File); this memo
    * holds frames, so it keeps the rule by re-reading parquet. The in-memory
    * checkpoints below live only WITHIN this one-time build (batch 2
    * reads batch 1's state), then the result is dumped to parquet in the
    * [[staged]] directory and the memo references the re-read. */
  private def incrementalWarehouse(s: SparkSession, d: String): graft.etl.OrderEtl.Warehouse =
    incrementalWh.computeIfAbsent(d, _ => {
      val whDir = new java.io.File(staged("inc", d)(base =>
        buildIncrementalWarehouse(s, d, base)), "wh")
      def read(n: String) =
        ManifestRelation.readParquet(s, new java.io.File(whDir, n).getAbsolutePath)
      graft.etl.OrderEtl.Warehouse(read("dim_date"), read("dim_customer"),
        read("dim_product"), read("dim_platform"), read("fact_sales"))
    })

  /** Fill `base` for [[incrementalWarehouse]]: the two CSV drops, the
    * stream's checkpoint, and the final warehouse as parquet under
    * `base/wh`. */
  private def buildIncrementalWarehouse(s: SparkSession, d: String,
                                        base: java.io.File): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val drops = new java.io.File(base, "drops"); drops.mkdirs()
    val synth = graft.etl.ReferenceShapedData.syntheticOrders(s, d)
    val cols = synth.columns.toSeq
    val tagged = synth.withColumn("__h",
      pmod(graft.functions.StableId63.stableId63(col("orderNo")), lit(2)))
    Seq(0, 1).foreach { h =>
      val out = new java.io.File(base, s"out$h")
      tagged.where(col("__h") === h).drop("__h")
        .coalesce(1).write.option("header", "true")
        .mode("overwrite").csv(out.getAbsolutePath)
      val part = out.listFiles().filter(_.getName.startsWith("part-")).head
      Files.move(part.toPath,
        Paths.get(drops.getAbsolutePath, s"drop$h.csv"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    @volatile var wh = graft.etl.OrderEtl.emptyWarehouse(s)
    val q = graft.streaming.IncrementalIngest.start(s,
      drops.getAbsolutePath,
      new java.io.File(base, "ckpt").getAbsolutePath,
      fileColumns = cols,
      load = () => wh,
      save = next => wh = graft.etl.OrderEtl.Warehouse(
        next.dimDate.localCheckpoint(true), next.dimCustomer.localCheckpoint(true),
        next.dimProduct.localCheckpoint(true), next.dimPlatform.localCheckpoint(true),
        next.factSales.localCheckpoint(true)),
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val whDir = new java.io.File(base, "wh")
    def dump(df: org.apache.spark.sql.DataFrame, n: String): Unit =
      df.write.mode("overwrite").parquet(new java.io.File(whDir, n).getAbsolutePath)
    dump(wh.dimDate, "dim_date"); dump(wh.dimCustomer, "dim_customer")
    dump(wh.dimProduct, "dim_product"); dump(wh.dimPlatform, "dim_platform")
    dump(wh.factSales, "fact_sales")
  }

  // Bucketed catalog tables for the co-located join path, created once
  // per JVM per sf dir (the bucketed layout is durable; queries only read)
  private val bucketed = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** A fresh JVM starts with an empty in-memory catalog, but the managed
    * table's LOCATION under the warehouse dir survives from the previous
    * run — saveAsTable then fails with LOCATION_ALREADY_EXISTS. Drop both
    * the (possibly absent) catalog entry and the stale directory. */
  private def dropStaleTable(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val wh = s.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh, table))
  }

  private def bucketedTables(s: SparkSession, d: String): (String, String) =
    bucketed.computeIfAbsent(d, _ => {
      val sfx = stagingSuffix(d)
      val li = s"graft_li_$sfx"
      val ord = s"graft_ord_$sfx"
      dropStaleTable(s, li)
      dropStaleTable(s, ord)
      graft.sources.WarehouseStore.saveBucketed(
        lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
          col("l_quantity"), col("l_extendedprice")),
        li, Seq("o_orderkey"), numBuckets = 16)
      graft.sources.WarehouseStore.saveBucketed(
        orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        ord, Seq("o_orderkey"), numBuckets = 16)
      (li, ord)
    })

  // Co-located (bucketed) join: both sides pre-shuffled into 16 buckets
  // on the join key at WRITE time, so the fact-to-fact join runs with
  // ZERO exchanges before it (PlanShapeSpec asserts) — the layout for
  // repeated big-big joins at scale, where neither side can broadcast.
  // The merge hint models that regime (at sf0.1 both sides would fit a
  // broadcast, which would hide the bucketed path being exercised).
  private val q60 = Q("q60_bucketed_join",
    (s, d) => {
      val (liT, ordT) = bucketedTables(s, d)
      s.table(liT).hint("merge")
        .join(s.table(ordT), Seq("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS n_lines,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority"""))

  // JL-style random projection: 64-float embeddings → 8 doubles via a
  // fixed deterministic ±1-ish matrix, applied in the scan. The dimension
  // squeeze (8x fewer bytes) happens BEFORE any shuffle — the shape for
  // clustering/dedup over vectors at corpus scale. Oracle reproduces the
  // identical ordered fold via list_dot_product on the same constants.
  private val q59 = Q("q59_random_projection",
    (s, d) => {
      val planes = Similarity.planes(8, 64)
      embeddings(s, d).select(col("vec_id") +: (0 until 8).map(i =>
        round(element_at(
          graft.functions.VectorNative.randomProject(col("embedding"), planes),
          i + 1), 6).as(s"r$i")): _*)
    },
    Some {
      val planes = Similarity.planes(8, 64)
      val cols = planes.zipWithIndex.map { case (p, i) =>
        s"ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), ${p.mkString("[", ",", "]")}), 6) AS r$i"
      }.mkString(", ")
      s"SELECT vec_id, $cols FROM embeddings"
    })

  // Benchmark decontamination: docs sharing any 3-gram with the "eval
  // set" (doc_id < 20 stands in for a benchmark) are removed before
  // training — the test-set-leakage guard every LLM pipeline runs.
  private val q62 = Q("q62_decontamination",
    (s, d) => {
      val docs = documents(s, d)
      Dedup.decontaminate(docs, docs.where(col("doc_id") < 20),
          "doc_id", "text", ngram = 3)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
    Some(s"""WITH $shingleCte,
      eval_h AS (SELECT DISTINCT hv FROM h WHERE doc < 20),
      dirty AS (SELECT DISTINCT doc FROM h WHERE hv IN (SELECT hv FROM eval_h))
      SELECT doc_id, lang, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT doc FROM dirty)"""))

  // Bloom-prefiltered decontamination: byte-identical answer to the
  // broadcast variant by construction (the exact confirm semi-join kills
  // bloom false positives), so the oracle is the plain exact SQL — the
  // bloom changes the plan, never the answer. Different eval split than
  // q62 so the two queries don't alias.
  private val q88 = Q("q88_bloom_decontam",
    (s, d) => {
      val docs = documents(s, d)
      Dedup.decontaminateBloom(docs, docs.where(col("doc_id") < 30),
          "doc_id", "text", ngram = 3, fpp = 0.01)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
    Some(s"""WITH $shingleCte,
      eval_h AS (SELECT DISTINCT hv FROM h WHERE doc < 30),
      dirty AS (SELECT DISTINCT doc FROM h WHERE hv IN (SELECT hv FROM eval_h))
      SELECT doc_id, lang, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT doc FROM dirty)"""))

  // Multi-hop dimension chain (supplier → nation → region): revenue
  // rolled up to region through three broadcast hops — the deep-star
  // shape where every dim stays a broadcast and the fact never shuffles
  // before the final aggregate. Completes table coverage (supplier and
  // region were otherwise unexercised).
  private val q63 = Q("q63_region_revenue",
    (s, d) => lineitem(s, d)
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      // two-level aggregate instead of countDistinct-beside-sum: the fused
      // form plans an Expand that pushes every fact row through the
      // aggregate twice; grouping by (region, supplier) first collapses
      // map-side to <= |suppliers| rows, then the re-aggregate counts
      // groups — same answer (decimal sums are associative), no Expand.
      .groupBy(col("r_name"), col("s_suppkey"))
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount"))))
          .as("__rev"),
        count(lit(1)).as("__n"))
      .groupBy(col("r_name"))
      .agg(
        sum(col("__rev")).cast(DoubleType).as("revenue"),
        sum(col("__n")).as("n_items"),
        count(lit(1)).as("n_suppliers")),
    Some("""SELECT r_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items, COUNT(DISTINCT s_suppkey) AS n_suppliers
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name"""))

  // Length-decile stratification: documents cut into 10 equal-count
  // buckets by length — the length-balanced sampling frame. Deterministic
  // tiebreak on doc_id keeps the cut stable across engines. NOT a
  // partition-less ntile window (that would sort the whole corpus through
  // one task): TrainingData.ntileBuckets broadcasts the 9 exact decile
  // boundaries and assigns with a narrow when-chain — same answer, zero
  // global sort (plan-asserted in PlanShapeSpec).
  private val q67 = Q("q67_length_deciles",
    (s, d) => graft.operators.TrainingData
      .ntileBuckets(documents(s, d), 10, "n_chars", "doc_id", "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars")),
    Some("""WITH t AS (SELECT doc_id, n_chars,
        NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile FROM documents)
      SELECT CAST(decile AS INTEGER) AS decile, COUNT(*) AS n_docs,
        CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        CAST(MAX(n_chars) AS BIGINT) AS max_chars
      FROM t GROUP BY decile"""))

  // Gopher-style repetition filter signal: fraction of each document's
  // 2-grams that are repeats — the boilerplate/machine-text quality gate.
  private val q61 = Q("q61_repetition",
    (s, d) => graft.operators.TrainingData
      .repetitionStats(documents(s, d), "doc_id", "text", n = 2),
    Some("""WITH sh AS (SELECT doc_id AS doc,
          CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS UBIGINT) AS BIGINT) AS hv
        FROM (SELECT doc_id,
                unnest(list_transform(range(len(tk) - 1),
                  i -> tk[i + 1] || ' ' || tk[i + 2])) AS tok
              FROM (SELECT doc_id,
                      string_split_regex(trim(text), '\s+') AS tk
                    FROM documents)
              WHERE len(tk) >= 2)),
      tot AS (SELECT doc, COUNT(*) AS n_ngrams FROM sh GROUP BY doc),
      dis AS (SELECT doc, COUNT(*) AS n_distinct
              FROM (SELECT DISTINCT doc, hv FROM sh) GROUP BY doc)
      SELECT t.doc, t.n_ngrams, d2.n_distinct,
        ROUND(1.0 - CAST(d2.n_distinct AS DOUBLE) / t.n_ngrams, 6) AS rep_ratio
      FROM tot t JOIN dis d2 ON t.doc = d2.doc"""))

  // Cross-corpus span dedup (CCNet/RefinedWeb line-dedup shape): spans =
  // fixed 8-token chunks (the corpus has no newlines, so the chunking IS
  // the caller-owned "line" notion); every occurrence after a span's
  // global first — ordered by (doc_id, position) — drops; survivors
  // reassemble in order. Postings shuffle 8-byte xxhash fingerprints, not
  // span text; the oracle replays keep-first via a window over span text.
  private val q68 = Q("q68_span_dedup",
    (s, d) => {
      val chunked = documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
        .select(col("doc_id"), expr(
          """transform(sequence(0, cast(ceil(size(tk) / 8.0) as int) - 1),
             i -> array_join(slice(tk, i * 8 + 1, 8), ' '))""").as("spans"))
      graft.operators.TrainingData.dedupSpans(chunked, "doc_id", "spans")
    },
    Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents),
      spans AS (SELECT doc_id, i AS idx,
          array_to_string(t[i*8+1 : i*8+8], ' ') AS span
        FROM (SELECT doc_id, t,
                unnest(range(CAST(ceil(len(t) / 8.0) AS INT))) AS i FROM tk)),
      ranked AS (SELECT doc_id, idx, span,
          row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
        FROM spans)
      SELECT doc_id, COUNT(*) AS n_spans,
        CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY idx),
          '') AS kept_text
      FROM ranked GROUP BY doc_id"""))

  // Gopher-style quality-filter composite: keep/drop with the per-rule
  // audit columns a tuning/compliance pass needs. Narrow arithmetic over
  // the scan + the q61 repetition join.
  private val q69 = Q("q69_quality_filter",
    (s, d) => graft.operators.TrainingData
      .qualityFilter(documents(s, d), "doc_id", "text"),
    Some("""WITH base AS (SELECT doc_id,
          string_split_regex(trim(lower(text)), '\s+') AS toks,
          regexp_replace(trim(text), '\s+', '', 'g') AS letters
        FROM documents),
      stats AS (SELECT doc_id AS doc,
          CAST(len(toks) AS BIGINT) AS n_words,
          ROUND(CAST(length(letters) AS DOUBLE)
            / GREATEST(len(toks), 1), 4) AS mean_word_len,
          ROUND(CAST(length(regexp_replace(letters, '[A-Za-z0-9]', '', 'g'))
            AS DOUBLE) / GREATEST(length(letters), 1), 4) AS symbol_ratio,
          CAST(len(list_intersect(toks,
            ['the','be','to','of','and','that','have','with'])) AS BIGINT)
            AS stop_hits
        FROM base),
      sh AS (SELECT doc_id AS doc,
          CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS UBIGINT) AS BIGINT) AS hv
        FROM (SELECT doc_id,
                unnest(list_transform(range(len(tk) - 1),
                  i -> tk[i + 1] || ' ' || tk[i + 2])) AS tok
              FROM (SELECT doc_id,
                      string_split_regex(trim(text), '\s+') AS tk
                    FROM documents)
              WHERE len(tk) >= 2)),
      tot AS (SELECT doc, COUNT(*) AS n_ngrams FROM sh GROUP BY doc),
      dis AS (SELECT doc, COUNT(*) AS n_distinct
              FROM (SELECT DISTINCT doc, hv FROM sh) GROUP BY doc),
      rep AS (SELECT t.doc,
          ROUND(1.0 - CAST(d2.n_distinct AS DOUBLE) / t.n_ngrams, 6) AS rr
        FROM tot t JOIN dis d2 ON t.doc = d2.doc)
      SELECT s.doc, s.n_words, s.mean_word_len, s.symbol_ratio, s.stop_hits,
        COALESCE(r.rr, 0.0) AS rep_ratio,
        (s.n_words BETWEEN 3 AND 100000
          AND s.mean_word_len BETWEEN 2.0 AND 12.0
          AND s.symbol_ratio <= 0.2 AND s.stop_hits >= 1
          AND COALESCE(r.rr, 0.0) <= 0.6) AS keep
      FROM stats s LEFT JOIN rep r ON s.doc = r.doc"""))

  // Frequency vocabulary (tokenizer seed vocab): top-50 tokens globally.
  private val q55 = Q("q55_vocabulary",
    (s, d) => graft.operators.TrainingData.vocabulary(documents(s, d), "text", k = 50),
    Some("""SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY tok ORDER BY n DESC, token LIMIT 50"""))

  // Domain-mixing sampler: per-source document quotas (the training-mix
  // spec), exact 63-bit keep thresholds DERIVED from corpus counts —
  // src2's over-ask keeps all of it, src3's zero quota drops it, unlisted
  // sources drop (whitelist). floor(quota·2^63/cnt) is exact integer
  // arithmetic on both engines (driver BigInt / DuckDB HUGEINT `//`).
  private val q72 = Q("q72_domain_mixing",
    (s, d) => graft.operators.TrainingData
      .mixToQuotas(documents(s, d), "doc_id", "source",
        Map("src0" -> 10L, "src1" -> 5L, "src2" -> 100000L, "src3" -> 0L))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars")),
    Some("""WITH spec AS (SELECT * FROM (VALUES
          ('src0', 10), ('src1', 5), ('src2', 100000), ('src3', 0))
          AS t(dom, quota)),
      r AS (SELECT c.dom,
              CASE WHEN s.quota >= c.cnt THEN NULL
                   ELSE CAST(CAST(s.quota AS HUGEINT) * 9223372036854775808
                             // c.cnt AS BIGINT) END AS thr
            FROM (SELECT source AS dom, COUNT(*) AS cnt
                  FROM documents GROUP BY 1) c
            JOIN spec s ON c.dom = s.dom)
      SELECT d.doc_id, d.source, d.lang, d.n_chars
      FROM documents d JOIN r ON d.source = r.dom
      WHERE r.thr IS NULL OR
        CAST(CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 16))
              AS UBIGINT) % 9223372036854775808 AS BIGINT) < r.thr"""))

  // Token-budget selection: fill each source's slice of the mix with its
  // longest documents until 600 tokens — greedy prefix, window per domain.
  private val q73 = Q("q73_token_budget",
    (s, d) => graft.operators.TrainingData
      .selectToTokenBudget(documents(s, d), "source", "doc_id", "text",
        "n_chars", budget = 600L)
      .select(col("doc_id"), col("source"), col("n_chars"), col("n_tokens")),
    Some("""WITH t AS (SELECT doc_id, source, n_chars,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
            AS n_tokens FROM documents),
      c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS prior FROM t)
      SELECT doc_id, source, n_chars, n_tokens FROM c WHERE prior < 600"""))

  // Per-document TF-IDF top-3 terms (smoothed idf, rounded-then-ranked so
  // the kept set is engine-portable).
  private val q74 = Q("q74_tfidf_topk",
    (s, d) => graft.operators.TrainingData
      .tfidfTopTerms(documents(s, d), "doc_id", "text", k = 3),
    Some("""WITH tf AS (SELECT doc, term, COUNT(*) AS tf
        FROM (SELECT doc_id AS doc,
                unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
              FROM documents)
        WHERE term <> '' GROUP BY 1, 2),
      df2 AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      s AS (SELECT tf.doc, tf.term, tf.tf, df2.df,
          ROUND(tf.tf * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (df2.df + 1)) + 1),
            6) AS tfidf
        FROM tf JOIN df2 USING (term) CROSS JOIN n),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc
              ORDER BY tfidf DESC, term) AS rank FROM s)
      SELECT doc, CAST(rank AS INTEGER) AS rank, term, tf, df, tfidf
      FROM r WHERE rank <= 3"""))

  // Incremental exact dedup: the delta batch (doc_id >= 250) against the
  // warehouse's fingerprint store (built from doc_id < 250) — survivors
  // are the rows an idempotent daily append would add.
  private val q75 = Q("q75_incremental_dedup",
    (s, d) => {
      val docs = documents(s, d)
      val seen = graft.operators.Dedup
        .exact(docs.where(col("doc_id") < 250), "doc_id", "text")
        .select(col("fp"))
      graft.operators.Dedup.exactIncremental(
        docs.where(col("doc_id") >= 250), "doc_id", "text", seen)
    },
    Some("""WITH seen AS (SELECT DISTINCT
          md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents WHERE doc_id < 250),
      batch AS (SELECT MIN(doc_id) AS doc_id,
          md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents WHERE doc_id >= 250 GROUP BY fp)
      SELECT b.doc_id, b.fp FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM seen s2 WHERE s2.fp = b.fp)"""))

  // Deterministic corpus shuffle: md5-keyed shard + in-shard rank — the
  // reproducible training order, no RNG, no global sort (8 shards here).
  private val q76 = Q("q76_deterministic_shuffle",
    (s, d) => graft.operators.TrainingData
      .deterministicShuffle(documents(s, d), "doc_id", numShards = 8)
      .select(col("doc_id"), col("shard"), col("pos")),
    Some("""WITH k AS (SELECT doc_id,
          CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 16))
            AS UBIGINT) % 9223372036854775808 AS key
        FROM documents)
      SELECT doc_id, CAST(key % 8 AS INTEGER) AS shard,
        CAST(row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id)
          AS INTEGER) AS pos
      FROM k"""))

  // Sliding-window token chunking (context-window prep): 32-token chunks
  // every 16 tokens; chunk text pinned by md5.
  private val q77 = Q("q77_token_chunks",
    (s, d) => graft.operators.TrainingData
      .chunkDocs(documents(s, d), "doc_id", "text", chunk = 32, stride = 16)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        md5(col("chunk_text")).as("chunk_md5")),
    Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents WHERE trim(text) <> ''),
      ch AS (SELECT doc_id, i AS chunk_idx,
          array_to_string(t[i*16+1 : i*16+32], ' ') AS chunk_text
        FROM (SELECT doc_id, t,
                unnest(range(CAST(floor((len(t) - 1) / 16.0) AS INT) + 1)) AS i
              FROM tk))
      SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        CAST(len(string_split_regex(chunk_text, '\s+')) AS BIGINT) AS n_tokens,
        md5(chunk_text) AS chunk_md5
      FROM ch"""))

  // Corpus report (the "dataset card"): totals, composition facets, token
  // volume, exact-dup rate — one scan, long format. All values are
  // integer-exact doubles or round-6 ratios, so cross-engine equal.
  private val q78 = Q("q78_corpus_report",
    (s, d) => graft.operators.TrainingData
      .corpusReport(documents(s, d), "doc_id", "text", "lang", "source",
        "n_chars"),
    Some("""WITH base AS (SELECT lang, source,
          CAST(n_chars AS DOUBLE) AS n_chars,
          CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
            AS n_tokens,
          md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents)
      SELECT 'docs_total' AS metric, '' AS "key",
        CAST(COUNT(*) AS DOUBLE) AS value FROM base
      UNION ALL SELECT 'tokens_total', '', SUM(n_tokens) FROM base
      UNION ALL SELECT 'chars_total', '', SUM(n_chars) FROM base
      UNION ALL SELECT 'mean_doc_tokens', '', ROUND(AVG(n_tokens), 6)
        FROM base
      UNION ALL SELECT 'docs_by_lang', lang, CAST(COUNT(*) AS DOUBLE)
        FROM base GROUP BY lang
      UNION ALL SELECT 'docs_by_source', source, CAST(COUNT(*) AS DOUBLE)
        FROM base GROUP BY source
      UNION ALL SELECT 'dup_rate_exact', '',
        ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6)
        FROM base"""))

  // Corpus snapshot diff: v1 = ids < 400, v2 = ids >= 100 with every 10th
  // text edited — exercises all four statuses deterministically.
  private val q80 = Q("q80_corpus_diff",
    (s, d) => {
      val docs = documents(s, d)
      val v1 = docs.where(col("doc_id") < 400)
      val v2 = docs.where(col("doc_id") >= 100)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.TrainingData.diffCorpora(v1, v2, "doc_id", "text")
    },
    Some("""WITH v1 AS (SELECT doc_id,
          md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents WHERE doc_id < 400),
      v2 AS (SELECT doc_id,
          md5(lower(regexp_replace(trim(
            CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END),
            '\s+', ' ', 'g'))) AS fp
        FROM documents WHERE doc_id >= 100)
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        CASE WHEN o.fp IS NULL THEN 'added'
             WHEN n.fp IS NULL THEN 'removed'
             WHEN o.fp <> n.fp THEN 'changed'
             ELSE 'unchanged' END AS status
      FROM v1 o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id"""))

  // Distributed Lloyd's k-means (2 assignment passes, deterministic seed
  // = k lowest ids): the semantic-clustering primitive for corpus
  // bucketing / diversity sampling. Decimal-exact centroid means rounded
  // to 9 dp make the iteration bit-reproducible across engines.
  private val q81 = Q("q81_kmeans_embeddings",
    (s, d) => graft.operators.KMeans.assign(embeddings(s, d), "vec_id",
      "embedding", k = 8, iters = 2),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      seed AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, v
               FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
      d0 AS (SELECT e.vec_id, s.cid,
               list_sum(list_transform(list_zip(e.v, s.v), p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
             FROM e CROSS JOIN seed s),
      a0 AS (SELECT vec_id, cluster FROM (
               SELECT vec_id, cid AS cluster,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d0)
             WHERE rn = 1),
      u AS (SELECT cluster, unnest(list_zip(v, range(len(v)))) AS p
            FROM a0 JOIN e USING (vec_id)),
      m AS (SELECT cluster, p[2] AS pos,
              ROUND(CAST(SUM(CAST(p[1] AS DECIMAL(38,16))) AS DOUBLE) / COUNT(*), 9) AS mv
            FROM u GROUP BY cluster, p[2]),
      c1 AS (SELECT cluster AS cid, list(mv ORDER BY pos) AS v FROM m GROUP BY cluster),
      d1 AS (SELECT e.vec_id, c.cid,
               list_sum(list_transform(list_zip(e.v, c.v), p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
             FROM e CROSS JOIN c1 c),
      a1 AS (SELECT vec_id, cluster FROM (
               SELECT vec_id, cid AS cluster,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1)
             WHERE rn = 1)
      SELECT vec_id, cluster FROM a1"""))

  // Int8 embedding quantization feasibility: per-vector scale and
  // round-trip error stats from one native codegen'd pass — the probe a
  // pipeline runs before shipping 4x-smaller int8 embeddings. Round
  // half-away-from-zero on both engines.
  private val q82 = Q("q82_int8_quant",
    (s, d) => embeddings(s, d)
      .select(col("vec_id"),
        graft.functions.VectorNative.int8QuantStats(col("embedding")).as("st"))
      .select(col("vec_id"),
        round(element_at(col("st"), 1), 9).as("scale"),
        round(element_at(col("st"), 2), 9).as("mse"),
        round(element_at(col("st"), 3), 9).as("max_err")),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM e),
      r AS (SELECT vec_id, scale,
              CASE WHEN scale > 0
                THEN list_transform(v, x -> x - LEAST(GREATEST(ROUND(x / scale), -127), 127) * scale)
                ELSE list_transform(v, x -> 0.0) END AS err FROM s)
      SELECT vec_id, ROUND(scale, 9) AS scale,
        ROUND(list_sum(list_transform(err, x -> x * x)) / len(err), 9) AS mse,
        ROUND(list_max(list_transform(err, x -> abs(x))), 9) AS max_err
      FROM r"""))

  // Canonical unicode text normalization (NFC + control strip + whitespace
  // collapse) — the cleaning pass that runs before any fingerprint/dedup so
  // composed vs decomposed forms can't split a duplicate class. NFC itself
  // is a native codegen'd expression (Spark has no builtin).
  private val q83 = Q("q83_text_normalize",
    (s, d) => documents(s, d)
      .select(col("doc_id"), col("text"),
        TextExprs.normalizeText(col("text")).as("norm"))
      .select(col("doc_id"),
        md5(col("norm")).as("norm_md5"),
        length(col("norm")).cast(LongType).as("n_chars_norm"),
        (col("norm") =!= col("text")).as("changed")),
    Some("""WITH n AS (SELECT doc_id, text,
        trim(regexp_replace(regexp_replace(nfc_normalize(text),
          '[\x00-\x08\x0e-\x1f\x7f]', '', 'g'),
          '[ \t\n\x0b\f\r]+', ' ', 'g')) AS norm
      FROM documents)
      SELECT doc_id, md5(norm) AS norm_md5,
        CAST(length(norm) AS BIGINT) AS n_chars_norm,
        (norm <> text) AS changed
      FROM n"""))

  // Semantic dedup survivors: the embedding-space counterpart of q17's
  // exact dedup — a row survives iff no smaller-id vector is within
  // cosine 0.4 (dominance, deterministic). Exact pairs here; the LSH
  // bucket path (nPlanes > 0) is the 100 TB shape, q33-verified.
  private val q84 = Q("q84_semantic_dedup",
    (s, d) => Similarity.semanticDedup(embeddings(s, d), "vec_id",
      "embedding", threshold = 0.4)
      .select(col("vec_id"), col("label")),
    Some("""WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label,
              list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv FROM c)
      SELECT a.vec_id, a.label FROM n a
      WHERE NOT EXISTS (SELECT 1 FROM n b WHERE b.vec_id < a.vec_id
        AND list_dot_product(a.nv, b.nv) >= 0.4)"""))

  // Sentence segmentation: terminal-punctuation split with stable
  // pre-filter indices — the unit-of-text layer under span dedup and
  // per-sentence quality scoring.
  // The synthetic corpus carries no punctuation, so the query injects a
  // period after every 5th token (deterministically, both engines) to
  // actually exercise multi-segment splitting on driver data.
  private val q85 = Q("q85_sentence_segments",
    (s, d) => graft.operators.TrainingData.sentenceSegments(
      documents(s, d).withColumn("text",
        regexp_replace(col("text"), "((\\S+ ){4}\\S+) ", "$1. ")),
      "doc_id", "text"),
    Some("""WITH d AS (SELECT doc_id,
        regexp_replace(text, '((\S+ ){4}\S+) ', '\1. ', 'g') AS text
      FROM documents),
      s AS (SELECT doc_id,
        unnest(list_zip(string_split_regex(text, '[.!?]+'),
          range(len(string_split_regex(text, '[.!?]+'))))) AS p
      FROM d)
      SELECT doc_id, CAST(p[2] AS INTEGER) AS seg_idx, trim(p[1]) AS seg,
        CAST(len(string_split_regex(trim(p[1]), '\s+')) AS BIGINT) AS n_tokens
      FROM s WHERE length(trim(p[1])) > 0"""))

  // LSH recall audit: measured recall of the bucketed near-dup path vs
  // the exact pair set at the same threshold (subset by construction, so
  // recall = ratio of two counts). The tuning probe that picks nPlanes
  // before a full-corpus approximate dedup commits to a guessed recall.
  private val q86 = Q("q86_lsh_recall",
    (s, d) => Similarity.lshRecallReport(embeddings(s, d), "vec_id",
      "embedding", threshold = 0.4, nPlanes = 4),
    Some {
      val planes = Similarity.planes(4, 64)
      def bucketExpr(v: String): String = planes.map { p =>
        val arr = p.mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product($v, $arr) >= 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv,
              ${bucketExpr("v")} AS bucket FROM c),
        ex AS (SELECT COUNT(*) AS n_exact FROM n a JOIN n b
               ON a.vec_id < b.vec_id AND list_dot_product(a.nv, b.nv) >= 0.4),
        ap AS (SELECT COUNT(*) AS n_lsh FROM n a JOIN n b
               ON a.bucket = b.bucket AND a.vec_id < b.vec_id
                  AND list_dot_product(a.nv, b.nv) >= 0.4)
        SELECT n_exact, n_lsh,
          CASE WHEN n_exact = 0 THEN 1.0
               ELSE ROUND(CAST(n_lsh AS DOUBLE) / n_exact, 6) END AS recall
        FROM ex CROSS JOIN ap"""
    })

  // CCNet-style perplexity filter: per-doc mean token NLL under a
  // unigram LM trained on the corpus itself (self-scoring — the common
  // bootstrap when no curated reference exists yet). Per-token NLLs
  // round to 6 decimals BEFORE the exact decimal sum (the q74 rule:
  // sub-ulp ln() divergence must not reach a compared value).
  // shared by q87 (fused train+score) and q93 (score against a PARQUET
  // round-tripped LM): same reference, same model, same exact result
  private val lmQualityCtes: String = """ref AS (SELECT tok AS token
          FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                FROM documents) WHERE tok <> ''),
      n AS (SELECT COUNT(*) AS nn FROM ref),
      lm AS (SELECT v.token,
               CAST(ROUND(-ln((v.c + 0.5) / (n.nn + 0.5 * 2001)), 6)
                    AS DECIMAL(18,6)) AS t_nll
             FROM (SELECT token, COUNT(*) AS c FROM ref GROUP BY 1
                   ORDER BY c DESC, token LIMIT 2000) v CROSS JOIN n),
      oov AS (SELECT CAST(ROUND(-ln(0.5 / (n.nn + 0.5 * 2001)), 6)
                    AS DECIMAL(18,6)) AS o_nll FROM n),
      toks AS (SELECT doc, token
          FROM (SELECT doc_id AS doc,
                  unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
                FROM documents) WHERE token <> ''),
      j AS (SELECT t.doc, lm.t_nll IS NOT NULL AS in_vocab,
              COALESCE(lm.t_nll, oov.o_nll) AS t_nll
            FROM toks t LEFT JOIN lm ON t.token = lm.token CROSS JOIN oov),
      g AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
              CAST(SUM(t_nll) * 1000000 AS BIGINT) AS sm
            FROM j GROUP BY doc),
      g2 AS (SELECT doc, n_tokens, n_oov,
              CAST((sm * 2 + n_tokens) // (n_tokens * 2) AS BIGINT) AS micro
            FROM g),
      scored AS (SELECT doc, n_tokens, n_oov, micro,
              CAST(micro AS DOUBLE) / 1000000.0 AS avg_nll
            FROM g2)"""

  private val lmQualityOracle: String =
    s"WITH $lmQualityCtes SELECT doc, n_tokens, n_oov, avg_nll FROM scored"

  private val q87 = Q("q87_lm_quality",
    (s, d) => {
      val docs = documents(s, d)
      graft.operators.TrainingData
        .lmQualityScore(docs, "doc_id", "text", docs, "text",
          vocabSize = 2000, alpha = 0.5)
    },
    Some(lmQualityOracle))

  // The persisted-LM path through the gate: the q87 reference LM is
  // trained ONCE per corpus, parquet round-tripped, and scoring runs
  // against the LOADED table — proving a saved model prices tokens
  // identically to retraining (the cross-run reuse contract).
  private val q93 = Q("q93_lm_quality_saved",
    (s, d) => {
      val dir = staged("lm", d) { f =>
        graft.operators.TrainingData
          .trainQualityLm(documents(s, d), "text", vocabSize = 2000, alpha = 0.5)
          .write.mode("overwrite").parquet(f.getAbsolutePath)
      }
      graft.operators.TrainingData.lmQualityScore(
        documents(s, d), "doc_id", "text",
        ManifestRelation.readParquet(s, dir.getAbsolutePath))
    },
    Some(lmQualityOracle))

  // Export side of the JSONL story (q91 is ingest): the documents table
  // leaves through JsonlExport's deterministic shard layout (gzip, one
  // dir per shard, pos-ordered parts), comes back through the explicit-
  // schema reader, and the oracle recomputes the ENTIRE (shard, pos)
  // assignment from the md5 key contract plus md5(text) for payload
  // parity — layout and losslessness certified in one gate.
  private val q94 = Q("q94_jsonl_export",
    (s, d) => {
      val dir = staged("jsonl_exp", d) { f =>
        graft.sources.JsonlExport.write(documents(s, d), "doc_id",
          f.getAbsolutePath, numShards = 8)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", LongType),
        org.apache.spark.sql.types.StructField("text", StringType),
        org.apache.spark.sql.types.StructField("lang", StringType),
        org.apache.spark.sql.types.StructField("source", StringType),
        org.apache.spark.sql.types.StructField("n_chars", LongType)))
      graft.sources.JsonlExport.read(s, dir.getAbsolutePath, schema)
        .select(col("doc_id"), col("shard").cast(IntegerType).as("shard"),
          col("pos"), md5(col("text")).as("text_md5"))
    },
    Some("""WITH k AS (SELECT doc_id, md5(text) AS text_md5,
          CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 16))
            AS UBIGINT) % 9223372036854775808 AS key
        FROM documents)
      SELECT doc_id, CAST(key % 8 AS INTEGER) AS shard,
        CAST(row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id)
          AS INTEGER) AS pos,
        text_md5
      FROM k"""))

  // Cross-source contamination matrix: distinct 3-gram shingle overlap
  // + Jaccard for every source pair — the pre-mixing leakage diagnostic.
  // The oracle rebuilds the whole matrix from the same md5-prefix
  // shingle-hash contract the dedup family pins.
  private val q95 = Q("q95_overlap_matrix",
    (s, d) => graft.operators.Dedup
      .overlapMatrix(documents(s, d), "source", "text", ngram = 3),
    Some("""WITH h AS (SELECT DISTINCT source AS grp,
          CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS UBIGINT) AS BIGINT) AS hv
        FROM (SELECT source,
                unnest(list_transform(range(len(tk) - 2),
                  i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS tok
              FROM (SELECT source, string_split_regex(trim(text), '\s+') AS tk
                    FROM documents WHERE source IS NOT NULL)
              WHERE len(tk) >= 3)),
      sz AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY grp),
      inter AS (SELECT a.grp AS grp_a, b.grp AS grp_b,
                  CAST(COUNT(*) AS BIGINT) AS shared
                FROM h a JOIN h b ON a.hv = b.hv AND a.grp < b.grp
                GROUP BY 1, 2)
      SELECT grp_a, grp_b, s1.n AS n_a, s2.n AS n_b, shared,
        ROUND(CAST(shared AS DOUBLE) / (s1.n + s2.n - shared), 6) AS jaccard
      FROM inter JOIN sz s1 ON grp_a = s1.grp JOIN sz s2 ON grp_b = s2.grp"""))

  // SCD Type-2 through the gate: a customer dimension versioned against
  // a mixed update batch — changed segments (every 7th key), no-op
  // updates (every 7th+1: re-applying identical attrs must NOT cut a
  // version), and brand-new keys. The oracle rebuilds the full versioned
  // dimension set-theoretically.
  private val q96 = Q("q96_scd2_dimension",
    (s, d) => {
      val cust = customer(s, d)
      val dim = cust.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
        lit("2020-01-01").as("valid_from"), lit("9999-12-31").as("valid_to"),
        lit(true).as("is_current"))
      val upd = cust.where(pmod(col("c_custkey"), lit(7)) === 0)
        .select(col("c_custkey").as("k"), lit("SEGMENT_X").as("seg"),
          col("c_nationkey").as("nat"))
        .unionByName(cust.where(pmod(col("c_custkey"), lit(7)) === 1)
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
            col("c_nationkey").as("nat")))
        // -(k+1) is strictly negative for every real custkey (keys start
        // at 0), so synthetic new keys stay disjoint at ANY scale — an
        // additive offset collides once the table outgrows it
        .unionByName(cust.where(pmod(col("c_custkey"), lit(100)) === 0)
          .select((-(col("c_custkey") + lit(1L))).as("k"),
            lit("NEW_SEGMENT").as("seg"), col("c_nationkey").as("nat")))
      graft.operators.Upsert.scd2Apply(dim, upd, Seq("k"), Seq("seg", "nat"),
        effectiveDate = "2024-06-01")
    },
    Some("""WITH dim AS (SELECT c_custkey AS k, c_mktsegment AS seg,
          c_nationkey AS nat, '2020-01-01' AS valid_from,
          '9999-12-31' AS valid_to, TRUE AS is_current FROM customer),
      upd AS (
        SELECT c_custkey AS k, 'SEGMENT_X' AS seg, c_nationkey AS nat
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_nationkey
        FROM customer WHERE c_custkey % 7 = 1
        UNION ALL
        SELECT -(c_custkey + 1), 'NEW_SEGMENT', c_nationkey
        FROM customer WHERE c_custkey % 100 = 0),
      chg AS (SELECT d.k FROM dim d JOIN upd u ON d.k = u.k
              WHERE d.seg IS DISTINCT FROM u.seg
                 OR d.nat IS DISTINCT FROM u.nat)
      SELECT d.k, d.seg, d.nat, d.valid_from,
        CASE WHEN c.k IS NOT NULL THEN '2024-06-01' ELSE d.valid_to END
          AS valid_to,
        CASE WHEN c.k IS NOT NULL THEN FALSE ELSE d.is_current END
          AS is_current
      FROM dim d LEFT JOIN chg c ON d.k = c.k
      UNION ALL
      SELECT u.k, u.seg, u.nat, '2024-06-01', '9999-12-31', TRUE
      FROM upd u JOIN chg c ON u.k = c.k
      UNION ALL
      SELECT u.k, u.seg, u.nat, '2024-06-01', '9999-12-31', TRUE
      FROM upd u LEFT JOIN dim d ON u.k = d.k WHERE d.k IS NULL"""))

  // BPE tokenizer-training counting round: adjacent char-pair counts over
  // the word vocabulary, weighted by word frequency — the top pair IS the
  // next BPE merge. Corpus text is touched exactly once (the vocab agg).
  private val q97 = Q("q97_bpe_pairs",
    (s, d) => graft.operators.TrainingData
      .bpeTopPairs(documents(s, d), "text", k = 64),
    Some("""WITH w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_w
          FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
                FROM documents)
          WHERE word <> '' GROUP BY word),
      p AS (SELECT unnest(list_transform(range(len(word) - 1),
              i -> word[i+1:i+2])) AS pair, n_w
            FROM w WHERE len(word) >= 2)
      SELECT pair, CAST(SUM(n_w) AS BIGINT) AS pair_count
      FROM p GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 64"""))

  // Event-rate anomaly monitor: per-(type, hour) counts z-scored against
  // the trailing 24 observed hours. All moments derive from integer sums
  // through one fixed expression tree, so both engines compute identical
  // IEEE doubles (engine stddev accumulation order could flip the 6th
  // rounded decimal).
  private val q98 = Q("q98_event_anomalies",
    (s, d) => graft.operators.Sessionize
      .rateAnomalies(events(s, d), "event_type", "ts", window = 24, minPrior = 3),
    Some("""WITH h AS (SELECT event_type AS key, date_trunc('hour', ts) AS hh,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
      wnd AS (SELECT key, hh, n,
          CAST(SUM(n) OVER w AS BIGINT) AS s1,
          CAST(SUM(n*n) OVER w AS BIGINT) AS s2,
          COUNT(n) OVER w AS c
        FROM h WINDOW w AS (PARTITION BY key ORDER BY hh
          ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      m AS (SELECT key, hh, n, c,
          CAST(s1 AS DOUBLE) / c AS mean_prior,
          CAST(s2 AS DOUBLE) / c
            - (CAST(s1 AS DOUBLE) / c) * (CAST(s1 AS DOUBLE) / c) AS v
        FROM wnd),
      f AS (SELECT key, hh, n, mean_prior,
          CASE WHEN c >= 3 AND v > 0
               THEN (n - mean_prior) / sqrt(v) END AS z
        FROM m)
      SELECT key, strftime(hh, '%Y-%m-%d %H:%M:%S') AS hour, n,
        ROUND(mean_prior, 6) AS mean_prior, ROUND(z, 6) AS z,
        (z IS NOT NULL AND abs(z) >= 3.0) AS is_anomaly
      FROM f"""))

  // Exact-k deterministic holdout on the custom bounded-heap operator —
  // a global "ORDER BY hash LIMIT k" whose shuffle carries <= tasks*k
  // rows, never the corpus.
  private val q99 = Q("q99_sample_exact",
    (s, d) => graft.operators.TrainingData
      .sampleExact(documents(s, d), "doc_id", k = 250)
      .select(col("doc_id"), col("lang"), col("n_chars")),
    Some("""SELECT doc_id, lang, n_chars FROM documents
      ORDER BY CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 16))
          AS UBIGINT) % 9223372036854775808 AS BIGINT), doc_id
      LIMIT 250"""))

  // Flagship composition: quality gate -> exact dedup survivors -> exact-k
  // deterministic holdout, all through one oracle — the operators are
  // proven individually by q17/q69/q99; this gate proves they COMPOSE
  // (each stage consumes the previous stage's frame, no materialization
  // between them, one launched job).
  private val q100 = Q("q100_pipeline_compose",
    (s, d) => {
      val qd = documents(s, d)
        .where(graft.functions.TextExprs.tokenCount(col("text")) >= 10)
      val survivors = graft.operators.Dedup.exact(qd, "doc_id", "text")
        .select(col("doc_id"))
      val kept = qd.join(survivors, Seq("doc_id"), "left_semi")
      graft.operators.TrainingData.sampleExact(kept, "doc_id", k = 200)
        .select(col("doc_id"), col("lang"), col("source"),
          graft.functions.TextExprs.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
    },
    Some("""WITH q AS (SELECT * FROM documents
          WHERE len(string_split_regex(trim(text), '\s+')) >= 10),
      surv AS (SELECT MIN(doc_id) AS doc_id FROM q
               GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))),
      kept AS (SELECT d.* FROM q d JOIN surv s ON d.doc_id = s.doc_id),
      keyed AS (SELECT doc_id, lang, source,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
          CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 16))
            AS UBIGINT) % 9223372036854775808 AS BIGINT) AS skey
        FROM kept)
      SELECT doc_id, lang, source, n_tokens FROM keyed
      ORDER BY skey, doc_id LIMIT 200"""))

  /** Corpus-wide segment dedup (C4/CCNet "drop duplicated lines across
    * the corpus"): same period-injection preprocessing as q85 so the raw
    * word-stream documents have sentence boundaries to dedup at. */
  private val q101 = Q("q101_segment_dedup_global",
    (s, d) => graft.operators.TrainingData.dedupSegmentsGlobal(
      documents(s, d).withColumn("text",
        regexp_replace(col("text"), "((\\S+ ){4}\\S+) ", "$1. ")),
      "doc_id", "text"),
    Some("""WITH d AS (SELECT doc_id,
        regexp_replace(text, '((\S+ ){4}\S+) ', '\1. ', 'g') AS text
      FROM documents),
      s AS (SELECT doc_id,
        unnest(list_zip(string_split_regex(text, '[.!?]+'),
          range(len(string_split_regex(text, '[.!?]+'))))) AS p
      FROM d),
      segs AS (SELECT doc_id, CAST(p[2] AS INTEGER) AS seg_idx,
          trim(p[1]) AS seg,
          CAST(len(string_split_regex(trim(p[1]), '\s+')) AS BIGINT)
            AS n_tokens
        FROM s WHERE length(trim(p[1])) > 0),
      keep AS (SELECT *, row_number() OVER (PARTITION BY md5(seg)
          ORDER BY doc_id, seg_idx) AS rn FROM segs)
      SELECT doc_id, string_agg(seg, '. ' ORDER BY seg_idx) AS text_dedup,
        CAST(count(*) AS BIGINT) AS n_kept,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept
      FROM keep WHERE rn = 1 GROUP BY doc_id"""))

  // Stream-stream interval join through the gate: two independent file
  // sources over the same staged events directory (views / purchases),
  // joined on user within a 30-minute attribution horizon, drained with
  // AvailableNow — the pair set must equal the static interval-join SQL.
  // Inner join in append mode emits pairs immediately; the watermark
  // exists for state eviction, not emission, so one drained source loses
  // nothing and streaming == batch exactly.
  private val q102 = Q("q102_streaming_interval_join",
    (s, d) => {
      val views = eventsStream(s, d).filter(col("event_type") === "view")
      val purchases =
        eventsStream(s, d).filter(col("event_type") === "purchase")
      drainToMemory(s, "graft_q102_sink", "append") {
        graft.streaming.EventStreams
          .intervalJoin(views, purchases, horizon = "30 minutes")
      }.groupBy(col("effect_id").as("purchase_id"))
        .agg(count(lit(1)).as("n_views"),
          min(col("cause_id")).as("min_view_id"))
    },
    Some("""SELECT p.event_id AS purchase_id, COUNT(*) AS n_views,
        MIN(v.event_id) AS min_view_id
      FROM events p JOIN events v ON v.user_id = p.user_id
       AND p.event_type = 'purchase' AND v.event_type = 'view'
       AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts
      GROUP BY p.event_id"""))

  /** Data-expectations suite over orders: thresholds chosen so several
    * checks FAIL on the fixture (range tails, status 'P', priority
    * '5-LOW') — the report's violation counts are what the oracle pins,
    * not just all-zeroes. */
  private val q103 = Q("q103_expectations",
    (s, d) => {
      import graft.operators.Expectations._
      graft.operators.Expectations.validate(orders(s, d), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 2000.0, 450000.0),
        InSet("o_orderstatus", Seq("O", "F")),
        MatchesRegex("o_orderpriority", "^[1-4]-"),
        Unique(Seq("o_orderkey")),
        RefIntegrity("o_custkey", customer(s, d), "c_custkey")))
    },
    Some("""SELECT check_name, target_col, violations,
        violations = 0 AS pass FROM (
      SELECT 'not_null' AS check_name, 'o_custkey' AS target_col,
        CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS violations FROM orders
      UNION ALL
      SELECT 'in_range', 'o_totalprice',
        CAST(COALESCE(SUM(CASE WHEN o_totalprice IS NOT NULL
          AND (o_totalprice < 2000.0 OR o_totalprice > 450000.0)
          THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'in_set', 'o_orderstatus',
        CAST(COALESCE(SUM(CASE WHEN o_orderstatus IS NOT NULL
          AND o_orderstatus NOT IN ('O', 'F')
          THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'matches_regex', 'o_orderpriority',
        CAST(COALESCE(SUM(CASE WHEN o_orderpriority IS NOT NULL
          AND NOT regexp_matches(o_orderpriority, '^[1-4]-')
          THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'unique', 'o_orderkey',
        CAST((SELECT COALESCE(SUM(n - 1), 0) FROM
          (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)) AS BIGINT)
      UNION ALL
      SELECT 'ref_integrity', 'o_custkey',
        CAST((SELECT COUNT(*) FROM orders o
          LEFT JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL) AS BIGINT)
      ) t"""))

  /** Temperature-scaled multilingual mixing over the skewed lang
    * distribution (en ≈ 3× the others): T=2 flattens toward uniform. The
    * oracle re-derives the whole contract — micro weights from
    * round(pow, 6), exact integer quota split, 63-bit keep thresholds. */
  private val q104 = Q("q104_temperature_mix",
    (s, d) => graft.operators.TrainingData
      .mixByTemperature(documents(s, d), "doc_id", "lang",
        temperature = 2.0, targetDocs = 300L)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
    Some("""WITH c AS (SELECT lang AS dom, COUNT(*) AS cnt
          FROM documents WHERE lang IS NOT NULL GROUP BY 1),
      tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
      w AS (SELECT dom, cnt,
          CAST(round(pow(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 0.5),
            6) * 1000000 AS BIGINT) AS m
        FROM c, tot),
      sw AS (SELECT SUM(CAST(m AS HUGEINT)) AS sm FROM w),
      q AS (SELECT dom, cnt,
          LEAST(CAST(cnt AS HUGEINT), CAST(300 AS HUGEINT) * m // sm)
            AS quota
        FROM w, sw),
      r AS (SELECT dom, CASE WHEN quota >= cnt THEN NULL
            ELSE CAST(CAST(quota AS HUGEINT) * 9223372036854775808
                      // cnt AS BIGINT) END AS thr
        FROM q)
      SELECT d.doc_id, d.lang, d.source, d.n_chars
      FROM documents d JOIN r ON d.lang = r.dom
      WHERE r.thr IS NULL OR
        CAST(CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 16))
              AS UBIGINT) % 9223372036854775808 AS BIGINT) < r.thr"""))

  /** Audio-container metadata (q92's audio sibling): SQL-assembled
    * spec-valid WAV / AIFF / FLAC headers, parsed back by the native
    * audio_meta expression; the oracle recomputes every field from the
    * doc columns the bytes were built from. */
  private val q105 = Q("q105_audio_meta",
    (s, d) => {
      def be(x: Column, hexDigits: Int) =
        unhex(lpad(hex(x), hexDigits, "0"))
      def le2(x: Column) = {
        val hx = lpad(hex(x), 4, "0")
        unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
      }
      def le4(x: Column) = {
        val hx = lpad(hex(x), 8, "0")
        unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
          substring(hx, 3, 2), substring(hx, 1, 2)))
      }
      def ascii(t: String) = encode(lit(t), "UTF-8")
      val id = col("doc_id"); val nc = col("n_chars")
      // WAV: PCM fmt chunk + header-only data chunk (declared size)
      val wch = lit(1L) + pmod(id, lit(2L))
      val wrate = lit(8000L) * (lit(1L) + pmod(id, lit(6L)))
      val wblock = wch * lit(2L)
      val wframes = lit(100L) + pmod(nc, lit(1000L))
      val wdata = wframes * wblock
      val wav = concat(ascii("RIFF"), le4(lit(36L) + wdata), ascii("WAVE"),
        ascii("fmt "), le4(lit(16L)), le2(lit(1L)), le2(wch), le4(wrate),
        le4(wrate * wblock), le2(wblock), le2(lit(16L)),
        ascii("data"), le4(wdata))
      // AIFF: COMM with the 80-bit extended 44100.0 sample rate
      val ach = lit(1L) + pmod(nc, lit(2L))
      val aframes = lit(50L) + pmod(id, lit(500L))
      val aiff = concat(ascii("FORM"), be(lit(30L), 8), ascii("AIFF"),
        ascii("COMM"), be(lit(18L), 8), be(ach, 4), be(aframes, 8),
        be(lit(16L), 4), unhex(lit("400EAC44000000000000")))
      // FLAC: STREAMINFO's packed 64-bit rate/channels/bits/samples
      val fch = lit(1L) + pmod(id, lit(2L))
      val frate = lit(11025L) * (lit(1L) + pmod(nc, lit(4L)))
      val fsamples = lit(1000L) + pmod(nc, lit(100000L))
      val packed = frate * lit(17592186044416L) +              // << 44
        (fch - lit(1L)) * lit(2199023255552L) +                // << 41
        lit(15L * 68719476736L) + fsamples                     // bits-1=15
      val flac = concat(ascii("fLaC"), unhex(lit("00000022")), // STREAMINFO, len 34
        unhex(lit("0" * 20)), be(packed, 16), unhex(lit("0" * 32)))
      val content = when(pmod(id, lit(3)) === 0, wav)
        .when(pmod(id, lit(3)) === 1, aiff)
        .otherwise(flac)
      val m = graft.functions.AudioMetaExpr.audioMeta(content)
      documents(s, d).select(col("doc_id"), m.as("__m"))
        .select(col("doc_id"),
          col("__m.format").as("format"),
          col("__m.channels").as("channels"),
          col("__m.sample_rate").as("sample_rate"),
          col("__m.bits_per_sample").as("bits_per_sample"),
          col("__m.n_frames").as("n_frames"))
        .withColumn("duration_ms",
          expr("n_frames * 1000 DIV sample_rate"))
    },
    Some("""SELECT doc_id, format, channels, sample_rate, bits_per_sample,
        n_frames, n_frames * 1000 // sample_rate AS duration_ms FROM (
      SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'aiff' ELSE 'flac' END
          AS format,
        CAST(CASE doc_id % 3 WHEN 1 THEN 1 + n_chars % 2
             ELSE 1 + doc_id % 2 END AS INTEGER) AS channels,
        CAST(CASE doc_id % 3 WHEN 0 THEN 8000 * (1 + doc_id % 6)
             WHEN 1 THEN 44100
             ELSE 11025 * (1 + n_chars % 4) END AS INTEGER) AS sample_rate,
        16 AS bits_per_sample,
        CAST(CASE doc_id % 3 WHEN 0 THEN 100 + n_chars % 1000
             WHEN 1 THEN 50 + doc_id % 500
             ELSE 1000 + n_chars % 100000 END AS BIGINT) AS n_frames
      FROM documents) t"""))

  /** The BPE oracle is GENERATED from the same merge table the Spark
    * expression uses: per word, chars are framed with chr(1) separators
    * and each merge becomes replace() calls in rank order. One replace()
    * per rank is NOT enough: adjacent occurrences share a frame
    * delimiter ('singing' → …\1in\1g\1in\1g\1…), so a single
    * left-to-right scan consumes the shared chr(1) and misses every
    * second occurrence. After one pass the missed occurrences are
    * pairwise non-adjacent (two neighbors can't both have been skipped),
    * so applying each rank's replace exactly TWICE reaches that rank's
    * fixpoint — which equals [[graft.functions.BpeEncode]]'s symbol-space
    * pass whenever a != b (occurrences are then disjoint in symbol
    * space, so merge order commutes). a == b rules (where kernel and
    * string-replace genuinely diverge on odd runs) are rejected here;
    * BPE training never emits them unless a char repeats itself, and the
    * demo table has none. */
  private def bpeOracleSql(merges: Seq[(String, String)]): String = {
    require(merges.forall(p => p._1 != p._2),
      "bpe oracle: self-pair rules have no faithful replace() oracle")
    val inner = merges.foldLeft("d") { case (acc, (a, b)) =>
      val pat = s"chr(1)||'$a'||chr(1)||'$b'||chr(1)"
      val rep = s"chr(1)||'$a$b'||chr(1)"
      s"replace(replace($acc, $pat, $rep), $pat, $rep)"
    }
    s"""WITH doc AS (SELECT doc_id, lower(text) AS text FROM documents
        WHERE length(trim(text)) > 0),
      ws AS (SELECT doc_id, unnest(list_zip(
            string_split_regex(trim(text), '\\s+'),
            range(len(string_split_regex(trim(text), '\\s+'))))) AS p
        FROM doc),
      w AS (SELECT doc_id, CAST(p[2] AS INTEGER) AS wi, p[1] AS word
        FROM ws WHERE p[1] <> ''),
      framed AS (SELECT doc_id, wi,
          chr(1) || array_to_string(regexp_extract_all(word, '.'), chr(1))
            || chr(1) AS d
        FROM w),
      enc AS (SELECT doc_id, wi,
          list_filter(string_split($inner, chr(1)), x -> x <> '') AS toks
        FROM framed)
      SELECT doc_id, CAST(SUM(len(toks)) AS BIGINT) AS n_bpe_tokens,
        md5(string_agg(array_to_string(toks, ' '), ' ' ORDER BY wi))
          AS tokens_md5
      FROM enc GROUP BY doc_id"""
  }

  /** Per-language tokenizer-fertility oracle: the [[bpeOracleSql]] CTE
    * chain aggregated per lang instead of per doc. */
  private def bpeFertilityOracleSql(merges: Seq[(String, String)]): String = {
    require(merges.forall(p => p._1 != p._2),
      "bpe fertility oracle: self-pair rules have no faithful oracle")
    val inner = merges.foldLeft("d") { case (acc, (a, b)) =>
      val pat = s"chr(1)||'$a'||chr(1)||'$b'||chr(1)"
      val rep = s"chr(1)||'$a$b'||chr(1)"
      s"replace(replace($acc, $pat, $rep), $pat, $rep)"
    }
    s"""WITH doc AS (SELECT doc_id, lang, lower(text) AS text,
          CAST(length(text) AS BIGINT) AS nc FROM documents
        WHERE length(trim(text)) > 0),
      ws AS (SELECT doc_id, unnest(list_zip(
            string_split_regex(trim(text), '\\s+'),
            range(len(string_split_regex(trim(text), '\\s+'))))) AS p
        FROM doc),
      w AS (SELECT doc_id, p[1] AS word FROM ws WHERE p[1] <> ''),
      framed AS (SELECT doc_id,
          chr(1) || array_to_string(regexp_extract_all(word, '.'), chr(1))
            || chr(1) AS d
        FROM w),
      enc AS (SELECT doc_id,
          list_filter(string_split($inner, chr(1)), x -> x <> '') AS toks
        FROM framed),
      bpe AS (SELECT doc_id, CAST(SUM(len(toks)) AS BIGINT) AS nb
        FROM enc GROUP BY doc_id),
      wc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nw
        FROM w GROUP BY doc_id)
      SELECT lang, CAST(SUM(nb) AS BIGINT) AS n_bpe_tokens,
        CAST(SUM(nw) AS BIGINT) AS n_words,
        CAST(SUM(nc) AS BIGINT) AS n_chars,
        ROUND(CAST(SUM(nb) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE), 6)
          AS fertility,
        ROUND(CAST(SUM(nc) AS DOUBLE) / CAST(SUM(nb) AS DOUBLE), 6)
          AS chars_per_token
      FROM doc JOIN bpe USING (doc_id) JOIN wc USING (doc_id)
      GROUP BY lang"""
  }

  private val q106 = Q("q106_bpe_encode",
    (s, d) => {
      val toks = graft.functions.BpeEncode.bpeEncode(
        lower(col("text")), graft.functions.BpeEncode.DemoMerges)
      documents(s, d)
        .where(length(trim(col("text"))) > 0)
        .select(col("doc_id"), toks.as("__t"))
        .select(col("doc_id"),
          size(col("__t")).cast("long").as("n_bpe_tokens"),
          md5(concat_ws(" ", col("__t"))).as("tokens_md5"))
    },
    Some(bpeOracleSql(graft.functions.BpeEncode.DemoMerges)))

  /** ORC round trip: documents written lang-partitioned through
    * OrcStore, read back with a partition-pruning filter; the per-group
    * COUNT/SUM plus a 63-bit text-hash XOR prove the trip lossless
    * against the parquet-derived oracle (XOR can't overflow and is
    * order-independent — the right checksum for a shuffled read-back). */
  private val q107 = Q("q107_orc_roundtrip",
    (s, d) => {
      val dir = staged("orc", d) { f =>
        graft.sources.OrcStore.save(documents(s, d), f.getAbsolutePath,
          partitionCols = Seq("lang"))
      }
      graft.sources.OrcStore.load(s, dir.getAbsolutePath)
        .where(col("lang") =!= "en")
        .withColumn("__k",
          graft.functions.StableId63.stableId63(col("text")))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"),
          expr("bit_xor(__k)").as("text_xor"))
    },
    Some("""SELECT lang, source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
        bit_xor(CAST(CAST(('0x' || substring(md5(text), 1, 16)) AS UBIGINT)
          % 9223372036854775808 AS BIGINT)) AS text_xor
      FROM documents WHERE lang <> 'en' GROUP BY 1, 2"""))

  /** Epoch-tagged upsampling: quotas chosen to exercise every regime —
    * multi-epoch + partial (src0), exactly-one-epoch (src1), downsample
    * partial (src2), drop (src3), full epochs with no remainder (src4). */
  private val q108 = Q("q108_upsample_epochs",
    (s, d) => graft.operators.TrainingData
      .upsampleToQuota(documents(s, d), "doc_id", "source",
        Map("src0" -> 60L, "src1" -> 25L, "src2" -> 5L, "src3" -> 0L,
          "src4" -> 100L))
      .select(col("doc_id"), col("source"), col("lang"),
        col("epoch").cast(IntegerType).as("epoch")),
    Some("""WITH spec AS (SELECT * FROM (VALUES
          ('src0', 60), ('src1', 25), ('src2', 5), ('src3', 0),
          ('src4', 100)) AS t(dom, quota)),
      p AS (SELECT c.dom, c.cnt,
              s.quota // c.cnt AS f,
              CAST(CAST(s.quota % c.cnt AS HUGEINT) * 9223372036854775808
                   // c.cnt AS BIGINT) AS thr
            FROM (SELECT source AS dom, COUNT(*) AS cnt
                  FROM documents GROUP BY 1) c
            JOIN spec s ON c.dom = s.dom),
      n AS (SELECT d.doc_id, d.source, d.lang,
              p.f + CASE WHEN
                CAST(CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)),
                  1, 16)) AS UBIGINT) % 9223372036854775808 AS BIGINT) < p.thr
                THEN 1 ELSE 0 END AS n
            FROM documents d JOIN p ON d.source = p.dom)
      SELECT doc_id, source, lang, CAST(unnest(range(n)) AS INTEGER) AS epoch
      FROM n WHERE n > 0"""))

  /** Cohort retention matrix (classic BI over the events stream): users
    * bucketed by first-seen ISO week, counted in every week they return.
    * Two aggregates + one equi-join on user_id — the join key is the
    * natural partitioning, and both sides are (user, week)-sized, never
    * event-sized. */
  private val q109 = Q("q109_cohort_retention",
    (s, d) => {
      val ev = events(s, d)
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(date_trunc("week", col("ts"))).as("cohort_week"))
      val active = ev.select(col("user_id"),
        date_trunc("week", col("ts")).as("active_week")).distinct()
      active.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"), col("active_week"))
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
          expr("CAST(datediff(active_week, cohort_week) DIV 7 AS INT)")
            .as("week_offset"),
          col("n_users"))
    },
    Some("""WITH c AS (SELECT user_id, min(date_trunc('week', ts)) AS cw
          FROM events GROUP BY 1),
      a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events)
      SELECT strftime(c.cw, '%Y-%m-%d') AS cohort_week,
        CAST(date_diff('day', c.cw, a.aw) // 7 AS INTEGER) AS week_offset,
        COUNT(*) AS n_users
      FROM a JOIN c USING (user_id) GROUP BY 1, 2"""))

  /** Strict-order funnel: first view, first click AFTER that view, first
    * purchase AFTER that click — each stage a per-user min over a
    * filtered slice joined back on user_id (per-user frames are tiny;
    * the three shuffles share one key). Counts only — no float. */
  private val q110 = Q("q110_funnel",
    (s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val g1 = ev.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val g2 = ev.where(col("event_type") === "click")
        .join(g1, Seq("user_id")).where(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val g3 = ev.where(col("event_type") === "purchase")
        .join(g2, Seq("user_id")).where(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      g1.agg(count(lit(1)).as("n_viewed")).crossJoin(
        g2.agg(count(lit(1)).as("n_clicked_after")).crossJoin(
          g3.agg(count(lit(1)).as("n_purchased_after"))))
    },
    Some("""WITH g1 AS (SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1),
      g2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN g1 ON e.user_id = g1.user_id
          WHERE e.event_type = 'click' AND e.ts > g1.t1 GROUP BY 1),
      g3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN g2 ON e.user_id = g2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > g2.t2 GROUP BY 1)
      SELECT (SELECT COUNT(*) FROM g1) AS n_viewed,
        (SELECT COUNT(*) FROM g2) AS n_clicked_after,
        (SELECT COUNT(*) FROM g3) AS n_purchased_after"""))

  /** Contrastive triplets: positive = rank 1, hard negative = rank m+1
    * of the exact cosine ranking (m = 5 → rank 6). */
  private val q111 = Q("q111_triplet_mining",
    (s, d) => {
      val emb = embeddings(s, d)
      graft.operators.Similarity.tripletMine(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", m = 5)
    },
    Some("""WITH q0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 10),
      q AS (SELECT q_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv FROM q0),
      c0 AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT n_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv FROM c0),
      scored AS (SELECT q_id, n_id, list_dot_product(qv, cv) AS cos
        FROM c, q WHERE q_id <> n_id),
      r AS (SELECT q_id, n_id, cos,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored)
      SELECT p.q_id, p.n_id AS pos_id, ROUND(p.cos, 6) AS pos_cos,
        n.n_id AS neg_id, ROUND(n.cos, 6) AS neg_cos
      FROM (SELECT * FROM r WHERE rank = 1) p
      JOIN (SELECT * FROM r WHERE rank = 6) n USING (q_id)"""))

  /** CCNet head/middle/tail perplexity thirds per language — q87's LM
    * scores cut by the exact histogram-rank protocol. */
  private val q112 = Q("q112_perplexity_buckets",
    (s, d) => {
      val docs = documents(s, d)
      val lm = graft.operators.TrainingData
        .trainQualityLm(docs, "text", vocabSize = 2000, alpha = 0.5)
      graft.operators.TrainingData
        .perplexityBuckets(docs, "doc_id", "text", "lang", lm)
    },
    Some(s"""WITH $lmQualityCtes,
      s AS (SELECT sc.doc, d.lang, sc.n_tokens, sc.n_oov, sc.avg_nll,
              sc.micro
            FROM scored sc JOIN documents d ON sc.doc = d.doc_id
            WHERE d.lang IS NOT NULL),
      hist AS (SELECT lang, micro, COUNT(*) AS c FROM s GROUP BY 1, 2),
      cum AS (SELECT lang, micro,
          SUM(c) OVER (PARTITION BY lang ORDER BY micro) AS cum,
          SUM(c) OVER (PARTITION BY lang) AS n FROM hist),
      cuts AS (SELECT lang,
          MIN(CASE WHEN cum >= (n + 2) // 3 THEN micro END) AS cut1,
          MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN micro END) AS cut2
        FROM cum GROUP BY lang)
      SELECT s.doc, s.lang, s.n_tokens, s.n_oov, s.avg_nll,
        CASE WHEN s.micro <= c.cut1 THEN 'head'
             WHEN s.micro <= c.cut2 THEN 'middle' ELSE 'tail' END AS bucket
      FROM s JOIN cuts c USING (lang)"""))

  /** Per-doc n-gram novelty vs the q62 reference slice — the continuous
    * decontamination signal (novelty = share of distinct 3-gram shingles
    * unseen in the reference). */
  private val q113 = Q("q113_novelty_score",
    (s, d) => {
      val docs = documents(s, d)
      graft.operators.Dedup.noveltyScore(docs,
        docs.where(col("doc_id") < 20), "doc_id", "text", ngram = 3)
    },
    Some(s"""WITH $shingleCte,
      ref_h AS (SELECT DISTINCT hv FROM h WHERE doc < 20),
      per AS (SELECT doc, COUNT(*) AS ns,
          SUM(CASE WHEN hv IN (SELECT hv FROM ref_h) THEN 1 ELSE 0 END) AS sn
        FROM h GROUP BY doc)
      SELECT doc, CAST(ns AS BIGINT) AS n_shingles,
        CAST(sn AS BIGINT) AS n_seen,
        ROUND(1.0 - CAST(sn AS DOUBLE) / ns, 6) AS novelty
      FROM per"""))

  /** The composed near-dup pipeline (q21's LSH candidates verified by
    * true Jaccard, q20's threshold) in the round-9 candidate-FIRST order:
    * the Spark side computes intersections only for candidate pairs; the
    * oracle states the same set declaratively (candidates ∩ thresholded
    * Jaccard — order is invisible to the result, which is the point of
    * the reorder being safe). */
  private val q114 = Q("q114_minhash_dups",
    (s, d) => graft.operators.Dedup.minhashDuplicates(
      documents(s, d), "doc_id", "text", 0.4, bands = 4, ngram = 3),
    Some {
      val p = graft.operators.Dedup.MinhashPrime
      val mins = graft.operators.Dedup.MinhashParams.zipWithIndex.map {
        case ((a, b), i) => s"MIN(($a * hv + $b) % $p) AS m$i"
      }.mkString(", ")
      val bands = (0 until 4).map { bnd =>
        val cols = (bnd * 4 until (bnd + 1) * 4)
          .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || '_' || ")
        s"SELECT doc, $bnd AS band, md5($cols) AS bucket FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH $shingleCte,
        sig AS (SELECT doc, $mins FROM h GROUP BY doc),
        band AS ($bands),
        cand AS (SELECT DISTINCT a.doc AS d1, b.doc AS d2
                 FROM band a JOIN band b
                 ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc),
        sz AS (SELECT doc, COUNT(*) AS n FROM h GROUP BY doc),
        inter AS (SELECT c.d1, c.d2, COUNT(*) AS inter
                  FROM cand c
                  JOIN h a ON a.doc = c.d1
                  JOIN h b ON b.doc = c.d2 AND b.hv = a.hv
                  GROUP BY c.d1, c.d2)
        SELECT d1, d2,
          ROUND(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
        FROM inter JOIN sz s1 ON d1 = s1.doc JOIN sz s2 ON d2 = s2.doc
        WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= 0.4"""
    })

  /** S2 oracle coverage (the last §2 row without one): a deterministic
    * orders subset staged as a REAL .xlsx and a REAL .xls
    * ([[graft.sources.ExcelFixture]]), read back through the native
    * OOXML-StAX and BIFF8/CFB readers, both tagged and unioned; the
    * oracle reads the same parquet rows DuckDB-side. At sf0.01 the .xls
    * stream sits under the 4096-byte CFB cutoff (mini-stream layout), at
    * sf0.1 above it (main FAT chain) — the two verify scales cover both
    * container paths end-to-end. */
  private val q115 = Q("q115_excel_ingest",
    (s, d) => {
      val dir = stagedExcel(s, d)
      def read(name: String, src: String) = {
        val df =
          if (name.endsWith(".xlsx"))
            graft.sources.XlsxIngest.readAllString(s,
              new java.io.File(dir, name).getAbsolutePath)
          else graft.sources.XlsIngest.readAllString(s,
            new java.io.File(dir, name).getAbsolutePath)
        df.select(lit(src).as("src"),
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_orderstatus"), col("o_orderdate"))
      }
      read("orders.xlsx", "xlsx").unionAll(read("orders.xls", "xls"))
    },
    Some("""WITH sub AS (SELECT o_orderkey, o_custkey, o_orderstatus,
            CAST(o_orderdate AS VARCHAR) AS o_orderdate
          FROM orders WHERE o_orderkey % 997 = 0
          ORDER BY o_orderkey LIMIT 300)
      SELECT 'xlsx' AS src, * FROM sub
      UNION ALL SELECT 'xls' AS src, * FROM sub"""))

  /** BM25 keyword retrieval gate (round-9 verdict #1: bm25TopK shipped
    * ungated). The oracle re-derives the full engine-exact score contract
    * documented on [[graft.operators.TextSearch.bm25TopK]] — idf rounded
    * half-up at 6 decimals before any multiply, tf normalization as the
    * 10·TL-scaled ratio with fixed left association, per-term contribution
    * rounded to micro-units and summed in exact decimal — so a drift in
    * either engine's IEEE sequence fails the hash compare. */
  private val q116 = Q("q116_bm25_topk",
    (s, d) => graft.operators.TextSearch.bm25TopK(
      documents(s, d), "doc_id", "text",
      Seq("spark", "vector", "join"), k = 20),
    Some("""WITH base AS (SELECT doc_id AS doc,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
            t -> t <> '') AS toks
        FROM documents),
      b AS (SELECT doc, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      st AS (SELECT COUNT(*) AS n, COALESCE(SUM(dl), 0) AS tl FROM b),
      t(term) AS (SELECT * FROM (VALUES ('spark'), ('vector'), ('join'))),
      dfreq AS (SELECT term,
          (SELECT COUNT(*) FROM b WHERE list_contains(b.toks, t.term)) AS df
        FROM t),
      idf AS (SELECT term,
          ROUND(ln(CAST(st.n + 1 AS DOUBLE) / (dfreq.df + 0.5)), 6) AS idf
        FROM dfreq CROSS JOIN st),
      pr AS (SELECT doc, dl, toks FROM b
        WHERE list_has_any(toks, ['spark', 'vector', 'join'])),
      tf AS (SELECT doc, dl, term,
          CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
        FROM pr CROSS JOIN t),
      c AS (SELECT doc, CASE WHEN tf > 0 THEN 1 ELSE 0 END AS hit,
          CAST(ROUND(idf.idf * ((10.0 * st.tl * tf) /
              (10.0 * st.tl * tf + 3.0 * st.tl + 9.0 * dl * st.n)), 6)
            AS DECIMAL(18,6)) AS contrib
        FROM tf JOIN idf USING (term) CROSS JOIN st)
      SELECT doc, CAST(SUM(hit) AS BIGINT) AS n_hit,
        CAST(CAST(SUM(contrib) * 1000000 AS BIGINT) AS DOUBLE)
          / 1000000.0 AS score
      FROM c GROUP BY doc ORDER BY score DESC, doc LIMIT 20"""))

  /** Audio PCM sample decode round trip (round-9 verdict #4, q50's audio
    * analog): a deterministic amplitude field per document is encoded as
    * a REAL spec-valid WAV (even ids) or AIFF (odd ids) PCM container —
    * bit depth cycles 8/16/24 with id % 3 (round-10 verdict #5 added
    * 24-bit byte-triplet decode; the even/odd container split exercises
    * it at BOTH endiannesses), and every 24-bit payload pins the two
    * signed extremes ±(2^23) in its first samples so sign extension at
    * the boundary is part of the hash — then decoded back by
    * [[graft.multimodal.PcmCodec]] inside the batched feature kernel.
    * The oracle recomputes every feature from the SAME synthesis
    * formula, so a green row proves the full encode→chunk-walk→sample
    * round trip recovers every amplitude exactly (integer layer exact;
    * mean/rms are single fixed IEEE sequences both engines share). */
  private val q117 = Q("q117_audio_pcm_features",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nChars) =>
          val ch = 1 + (nChars % 2).toInt
          val bits = (id % 3) match { case 0 => 8; case 1 => 16; case _ => 24 }
          val rate = 8000 * (1 + (id % 4).toInt)
          val frames = 20 + (nChars % 40).toInt
          val seed = (id % 251).toInt
          val samples = Array.tabulate(frames * ch) { i =>
            bits match {
              case 8 => (seed + 131 * i) % 256 - 128
              case 16 => (seed + 9973 * i) % 65536 - 32768
              case _ => // 24-bit: extremes first, then the rolling field
                if (i == 0) -8388608
                else if (i == 1) 8388607
                else (seed + 131071 * i) % 16777216 - 8388608
            }
          }
          val bytes =
            if (id % 2 == 0)
              graft.multimodal.PcmCodec.encodeWav(ch, rate, bits, samples)
            else
              graft.multimodal.PcmCodec.encodeAiff(ch, rate, bits, samples)
          MediaRow(id, if (id % 2 == 0) "audio/wav" else "audio/aiff",
            bytes, MediaMeta("synth", None, None, None))
        }
      graft.multimodal.Multimodal.audioFeatures(media).toDF()
        .select(col("media_id"), col("format"), col("channels"),
          col("sample_rate"), col("n_samples"), col("peak_abs"),
          col("sum_amp"), col("sum_sq"), col("mean_amp"), col("rms"))
    },
    Some("""WITH p AS (SELECT doc_id,
          CAST(1 + n_chars % 2 AS INTEGER) AS ch,
          CASE WHEN doc_id % 3 = 0 THEN 8
               WHEN doc_id % 3 = 1 THEN 16 ELSE 24 END AS bits,
          CAST(8000 * (1 + doc_id % 4) AS INTEGER) AS rate,
          20 + n_chars % 40 AS frames,
          doc_id % 251 AS seed
        FROM documents),
      s AS (SELECT doc_id, ch, rate, frames * ch AS n,
          list_transform(range(frames * ch), i ->
            CASE WHEN bits = 8 THEN (seed + 131*i) % 256 - 128
                 WHEN bits = 16 THEN (seed + 9973*i) % 65536 - 32768
                 WHEN i = 0 THEN -8388608
                 WHEN i = 1 THEN 8388607
                 ELSE (seed + 131071*i) % 16777216 - 8388608 END) AS sm
        FROM p)
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'aiff' END AS format,
        ch AS channels, rate AS sample_rate,
        CAST(n AS BIGINT) AS n_samples,
        CAST(list_max(list_transform(sm, x -> abs(x))) AS INTEGER) AS peak_abs,
        CAST(list_sum(sm) AS BIGINT) AS sum_amp,
        CAST(list_sum(list_transform(sm, x -> x*x)) AS BIGINT) AS sum_sq,
        CAST(list_sum(sm) AS DOUBLE) / n AS mean_amp,
        sqrt(CAST(list_sum(list_transform(sm, x -> x*x)) AS DOUBLE) / n) AS rms
      FROM s"""))

  /** The composed contamination spot-check audit the TextSearch scaladoc
    * promises (round-9 verdict #7): q113's novelty signal flags docs
    * sharing ANY 3-gram with the benchmark slice (novelty < 1), then
    * BM25 ranks the flagged set for the auditor's probe terms — "show me
    * the most relevant suspected-contaminated docs". Retrieval stats
    * (N, TL, df) are computed over the FLAGGED corpus, proving bm25TopK
    * composes with an upstream operator's output rather than assuming a
    * base table; novelty rides along via a final bounded join (k rows). */
  private val q118 = Q("q118_bm25_contamination_audit",
    (s, d) => {
      val docs = documents(s, d)
      val nov = graft.operators.Dedup.noveltyScore(docs,
        docs.where(col("doc_id") < 20), "doc_id", "text", ngram = 3)
      val flagged = docs.join(
        nov.where(col("novelty") < 1.0)
          .select(col("doc").as("doc_id"), col("novelty")),
        Seq("doc_id"))
      graft.operators.TextSearch
        .bm25TopK(flagged, "doc_id", "text", Seq("table", "join"), k = 15)
        .join(nov.select(col("doc"), col("novelty")), Seq("doc"))
        .select(col("doc"), col("n_hit"), col("score"), col("novelty"))
    },
    Some(s"""WITH $shingleCte,
      ref_h AS (SELECT DISTINCT hv FROM h WHERE doc < 20),
      per AS (SELECT doc, COUNT(*) AS ns,
          SUM(CASE WHEN hv IN (SELECT hv FROM ref_h) THEN 1 ELSE 0 END) AS sn
        FROM h GROUP BY doc),
      flag AS (SELECT doc, novelty FROM (
          SELECT doc, ROUND(1.0 - CAST(sn AS DOUBLE) / ns, 6) AS novelty
          FROM per) WHERE novelty < 1.0),
      base AS (SELECT d.doc_id AS doc, f.novelty,
          list_filter(string_split_regex(trim(lower(d.text)), '\\s+'),
            t -> t <> '') AS toks
        FROM documents d JOIN flag f ON d.doc_id = f.doc),
      b AS (SELECT doc, novelty, toks,
          CAST(len(toks) AS BIGINT) AS dl FROM base),
      st AS (SELECT COUNT(*) AS n, COALESCE(SUM(dl), 0) AS tl FROM b),
      t(term) AS (SELECT * FROM (VALUES ('table'), ('join'))),
      dfreq AS (SELECT term,
          (SELECT COUNT(*) FROM b WHERE list_contains(b.toks, t.term)) AS df
        FROM t),
      idf AS (SELECT term,
          ROUND(ln(CAST(st.n + 1 AS DOUBLE) / (dfreq.df + 0.5)), 6) AS idf
        FROM dfreq CROSS JOIN st),
      pr AS (SELECT doc, novelty, dl, toks FROM b
        WHERE list_has_any(toks, ['table', 'join'])),
      tf AS (SELECT doc, novelty, dl, term,
          CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
        FROM pr CROSS JOIN t),
      c AS (SELECT doc, novelty,
          CASE WHEN tf > 0 THEN 1 ELSE 0 END AS hit,
          CAST(ROUND(idf.idf * ((10.0 * st.tl * tf) /
              (10.0 * st.tl * tf + 3.0 * st.tl + 9.0 * dl * st.n)), 6)
            AS DECIMAL(18,6)) AS contrib
        FROM tf JOIN idf USING (term) CROSS JOIN st)
      SELECT doc, CAST(SUM(hit) AS BIGINT) AS n_hit,
        CAST(CAST(SUM(contrib) * 1000000 AS BIGINT) AS DOUBLE)
          / 1000000.0 AS score,
        novelty
      FROM c GROUP BY doc, novelty
      ORDER BY score DESC, doc LIMIT 15"""))

  /** Batched multi-probe BM25 (round-10 verdict #1): three probes with
    * OVERLAPPING term sets — 'join' appears in two probes, 'vector' in
    * two — ranked in ONE plan by
    * [[graft.operators.TextSearch.bm25TopKBatch]]. The oracle extends
    * q116's engine-exact score contract per probe: shared stats (N, TL),
    * per-term df over the distinct term universe, idf rounded half-up at
    * 6 decimals before any multiply, the 10·TL tf ratio, micro-unit
    * contribution sums, and a per-probe row_number top-k with the same
    * (score desc, doc asc) tie-break. A probe-fan-out bug (a term's tf
    * leaking between probes that share it) or any stats drift between
    * the batch and single-probe paths fails the hash. */
  private val q119 = Q("q119_bm25_multi_probe",
    (s, d) => {
      import s.implicits._
      val probes = Seq(
        (0L, Seq("spark", "vector", "join")),
        (1L, Seq("table", "join")),
        (2L, Seq("vector", "data", "quality"))).toDF("probe", "terms")
      graft.operators.TextSearch.bm25TopKBatch(
        documents(s, d), "doc_id", "text", probes, "probe", "terms", k = 10)
    },
    Some("""WITH base AS (SELECT doc_id AS doc,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
            t -> t <> '') AS toks
        FROM documents),
      b AS (SELECT doc, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      st AS (SELECT COUNT(*) AS n, COALESCE(SUM(dl), 0) AS tl FROM b),
      t(probe, term) AS (SELECT * FROM (VALUES
        (0, 'spark'), (0, 'vector'), (0, 'join'),
        (1, 'table'), (1, 'join'),
        (2, 'vector'), (2, 'data'), (2, 'quality'))),
      u AS (SELECT DISTINCT term FROM t),
      dfreq AS (SELECT term,
          (SELECT COUNT(*) FROM b WHERE list_contains(b.toks, u.term)) AS df
        FROM u),
      idf AS (SELECT term,
          ROUND(ln(CAST(st.n + 1 AS DOUBLE) / (dfreq.df + 0.5)), 6) AS idf
        FROM dfreq CROSS JOIN st),
      tf AS (SELECT doc, dl, term,
          CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
        FROM b CROSS JOIN u WHERE list_contains(b.toks, u.term)),
      c AS (SELECT t.probe, tf.doc,
          CAST(ROUND(idf.idf * ((10.0 * st.tl * tf.tf) /
              (10.0 * st.tl * tf.tf + 3.0 * st.tl + 9.0 * tf.dl * st.n)), 6)
            AS DECIMAL(18,6)) AS contrib
        FROM tf JOIN idf USING (term) JOIN t USING (term) CROSS JOIN st),
      g AS (SELECT probe, doc, CAST(COUNT(*) AS BIGINT) AS n_hit,
          CAST(CAST(SUM(contrib) * 1000000 AS BIGINT) AS DOUBLE)
            / 1000000.0 AS score
        FROM c GROUP BY probe, doc)
      SELECT CAST(probe AS BIGINT) AS probe, doc, n_hit, score FROM g
      QUALIFY row_number() OVER (PARTITION BY probe
        ORDER BY score DESC, doc) <= 10
      ORDER BY probe, score DESC, doc"""))

  /** Persisted IVF index (round-10 verdict #2, q93's pattern applied to
    * ANN): the index is trained ONCE per corpus, parquet round-tripped
    * (centroids + cell-partitioned postings), and the search runs
    * against the LOADED index with no retrain — proving a saved index
    * answers identically to a fresh one. nProbe = k makes the probe set
    * exhaustive, so the oracle is q47's exact brute-force equivalence:
    * any drift in the centroid round trip (a flipped sign bit, a
    * truncated dimension, a reordered cell) changes some assignment or
    * cosine and fails the hash. */
  private val q120 = Q("q120_ann_ivf_saved",
    (s, d) => {
      val emb = embeddings(s, d)
      val dir = staged("ivf", d) { f =>
        val model = graft.operators.IvfIndex.train(emb, "vec_id", "embedding", k = 16)
        val index = graft.operators.IvfIndex
          .assign(emb, "vec_id", "embedding", model)
        graft.operators.IvfIndex.saveIndex(model, index, f.getAbsolutePath)
      }
      val (model, postings) =
        graft.operators.IvfIndex.loadIndex(s, dir.getAbsolutePath)
      graft.operators.IvfIndex.search(postings,
        emb.where(col("vec_id") < 10),
        "vec_id", "embedding", model, k = 5, nProbe = 16)
    },
    // exact-equivalence oracle, verbatim q47 shape: all-cells probe of
    // the LOADED index == brute force
    Some("""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        scored AS (SELECT q_id, n_id,
            list_dot_product(qv, cv) /
              (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
          FROM q CROSS JOIN c WHERE q_id <> n_id),
        r AS (SELECT q_id, n_id, cos,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored)
        SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, ROUND(cos, 6) AS cos
        FROM r WHERE rank <= 5"""))

  /** Persisted BM25 corpus stats (q120's pattern applied to retrieval):
    * the full-vocabulary (term, df) table plus the (N, TL) row are
    * built ONCE per corpus and parquet round-tripped; the query then
    * runs [[graft.operators.TextSearch.bm25TopKIndexed]] — pass 1 is a
    * pushdown-pruned read of the query terms' stats, only the scoring
    * pass touches the corpus. The oracle is q116's score contract
    * VERBATIM: identical terms and k, so any drift between saved and
    * live stats (a lost term, a df off by one, a stale TL) changes a
    * score and fails the hash. */
  private val q121 = Q("q121_bm25_indexed",
    (s, d) => {
      val dir = staged("bm25", d) { f =>
        graft.operators.TextSearch.saveCorpusStats(
          documents(s, d), "doc_id", "text", f.getAbsolutePath)
      }
      graft.operators.TextSearch.bm25TopKIndexed(
        documents(s, d), "doc_id", "text", dir.getAbsolutePath,
        Seq("spark", "vector", "join"), k = 20)
    },
    Some("""WITH base AS (SELECT doc_id AS doc,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
            t -> t <> '') AS toks
        FROM documents),
      b AS (SELECT doc, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      st AS (SELECT COUNT(*) AS n, COALESCE(SUM(dl), 0) AS tl FROM b),
      t(term) AS (SELECT * FROM (VALUES ('spark'), ('vector'), ('join'))),
      dfreq AS (SELECT term,
          (SELECT COUNT(*) FROM b WHERE list_contains(b.toks, t.term)) AS df
        FROM t),
      idf AS (SELECT term,
          ROUND(ln(CAST(st.n + 1 AS DOUBLE) / (dfreq.df + 0.5)), 6) AS idf
        FROM dfreq CROSS JOIN st),
      pr AS (SELECT doc, dl, toks FROM b
        WHERE list_has_any(toks, ['spark', 'vector', 'join'])),
      tf AS (SELECT doc, dl, term,
          CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
        FROM pr CROSS JOIN t),
      c AS (SELECT doc, CASE WHEN tf > 0 THEN 1 ELSE 0 END AS hit,
          CAST(ROUND(idf.idf * ((10.0 * st.tl * tf) /
              (10.0 * st.tl * tf + 3.0 * st.tl + 9.0 * dl * st.n)), 6)
            AS DECIMAL(18,6)) AS contrib
        FROM tf JOIN idf USING (term) CROSS JOIN st)
      SELECT doc, CAST(SUM(hit) AS BIGINT) AS n_hit,
        CAST(CAST(SUM(contrib) * 1000000 AS BIGINT) AS DOUBLE)
          / 1000000.0 AS score
      FROM c GROUP BY doc ORDER BY score DESC, doc LIMIT 20"""))

  /** Video-container metadata (q92/q105's video sibling, completing the
    * multimodal metadata family): structurally real MP4 (ftyp +
    * moov(mvhd + n×trak(tkhd))) and AVI (RIFF hdrl/avih) containers are
    * synthesized per document and parsed back by the native codegen'd
    * video_meta expression; the oracle recomputes every field from the
    * doc columns the bytes were built from. MP4 covers the
    * first-video-track rule (extra tracks are dimensionless) and the
    * timescale→ms clock conversion; AVI covers the µs-per-frame clock. */
  private val q122 = Q("q122_video_meta",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val bytes =
            if (id % 2 == 0)
              graft.multimodal.VideoFixture.encodeMp4(
                16 * (1 + (id % 120)).toInt, 9 * (1 + (nc % 80)).toInt,
                1000 * (1 + (id % 5)).toInt, 1000 + (nc % 90000),
                1 + (id % 3).toInt)
            else
              graft.multimodal.VideoFixture.encodeAvi(
                320 + ((id % 10) * 16).toInt, 240 + ((nc % 10) * 16).toInt,
                20000 + ((id % 5) * 1000).toInt, (100 + (nc % 5000)).toInt,
                1 + (nc % 2).toInt)
          MediaRow(id, if (id % 2 == 0) "video/mp4" else "video/x-msvideo",
            bytes, MediaMeta("synth", None, None, None))
        }
      graft.multimodal.Multimodal.videoHeaderMeta(media.toDF())
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("duration_ms"), col("n_tracks"))
    },
    Some("""SELECT doc_id AS media_id,
        CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS format,
        CAST(CASE WHEN doc_id % 2 = 0 THEN 16 * (1 + doc_id % 120)
             ELSE 320 + (doc_id % 10) * 16 END AS INTEGER) AS width,
        CAST(CASE WHEN doc_id % 2 = 0 THEN 9 * (1 + n_chars % 80)
             ELSE 240 + (n_chars % 10) * 16 END AS INTEGER) AS height,
        CAST(CASE WHEN doc_id % 2 = 0
             THEN (1000 + n_chars % 90000) * 1000 // (1000 * (1 + doc_id % 5))
             ELSE (100 + n_chars % 5000) * (20000 + (doc_id % 5) * 1000) // 1000
             END AS BIGINT) AS duration_ms,
        CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3
             ELSE 1 + n_chars % 2 END AS INTEGER) AS n_tracks
      FROM documents"""))

  /** The full production retrieval composition: q121's SAVED corpus
    * stats × q119's multi-probe batch — zero corpus scans before the
    * single scoring plan (the recurring-contamination-audit shape:
    * freeze the snapshot, save stats once, run every benchmark's probe
    * batch against them). Oracle is q119's per-probe score contract
    * VERBATIM, so the saved-stats path must reproduce the live batch
    * micro-unit for micro-unit. */
  private val q123 = Q("q123_bm25_batch_indexed",
    (s, d) => {
      import s.implicits._
      val dir = staged("bm25", d) { f =>
        graft.operators.TextSearch.saveCorpusStats(
          documents(s, d), "doc_id", "text", f.getAbsolutePath)
      }
      val probes = Seq(
        (0L, Seq("spark", "vector", "join")),
        (1L, Seq("table", "join")),
        (2L, Seq("vector", "data", "quality"))).toDF("probe", "terms")
      graft.operators.TextSearch.bm25TopKBatchIndexed(
        documents(s, d), "doc_id", "text", dir.getAbsolutePath,
        probes, "probe", "terms", k = 10)
    },
    Some("""WITH base AS (SELECT doc_id AS doc,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
            t -> t <> '') AS toks
        FROM documents),
      b AS (SELECT doc, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      st AS (SELECT COUNT(*) AS n, COALESCE(SUM(dl), 0) AS tl FROM b),
      t(probe, term) AS (SELECT * FROM (VALUES
        (0, 'spark'), (0, 'vector'), (0, 'join'),
        (1, 'table'), (1, 'join'),
        (2, 'vector'), (2, 'data'), (2, 'quality'))),
      u AS (SELECT DISTINCT term FROM t),
      dfreq AS (SELECT term,
          (SELECT COUNT(*) FROM b WHERE list_contains(b.toks, u.term)) AS df
        FROM u),
      idf AS (SELECT term,
          ROUND(ln(CAST(st.n + 1 AS DOUBLE) / (dfreq.df + 0.5)), 6) AS idf
        FROM dfreq CROSS JOIN st),
      tf AS (SELECT doc, dl, term,
          CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
        FROM b CROSS JOIN u WHERE list_contains(b.toks, u.term)),
      c AS (SELECT t.probe, tf.doc,
          CAST(ROUND(idf.idf * ((10.0 * st.tl * tf.tf) /
              (10.0 * st.tl * tf.tf + 3.0 * st.tl + 9.0 * tf.dl * st.n)), 6)
            AS DECIMAL(18,6)) AS contrib
        FROM tf JOIN idf USING (term) JOIN t USING (term) CROSS JOIN st),
      g AS (SELECT probe, doc, CAST(COUNT(*) AS BIGINT) AS n_hit,
          CAST(CAST(SUM(contrib) * 1000000 AS BIGINT) AS DOUBLE)
            / 1000000.0 AS score
        FROM c GROUP BY probe, doc)
      SELECT CAST(probe AS BIGINT) AS probe, doc, n_hit, score FROM g
      QUALIFY row_number() OVER (PARTITION BY probe
        ORDER BY score DESC, doc) <= 10
      ORDER BY probe, score DESC, doc"""))

  /** Perceptual image fingerprint over REAL decoded pixels (the
    * multimodal member of the dedup family): q50's synthesis shrunk to
    * exact 9×8-divisible dims, encoded as real PNG (gray or RGB) or
    * real LZW GIF every fifth doc, decoded back, grayscaled by integer
    * channel mean, area-averaged to the 9×8 dHash grid, and fingerprinted
    * by the 64 left<right bits. The oracle recomputes the ENTIRE integer
    * pipeline — pixel synthesis, channel mean, exact-block cell means,
    * bit packing (bit 63 as the sign bit) — so one flipped comparison
    * anywhere in decode→grayscale→downsample→compare fails the hash. */
  private val q124 = Q("q124_image_dhash",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val w = 9 * (1 + (id % 4)).toInt
          val h = 8 * (1 + (nc % 3)).toInt
          val seed = (id % 251).toInt
          if (id % 5 == 0) {
            val palette = Array.tabulate(256)(j =>
              (j << 16) | (((j * 7) % 256) << 8) | ((j * 13) % 256))
            val idx = Array.tabulate(w * h)(i =>
              (seed + 31 * (i % w) + 13 * (i / w)) % 256)
            MediaRow(id, "image/gif",
              graft.multimodal.GifCodec.encode(w, h, palette, idx),
              MediaMeta("synth", Some(w), Some(h), None))
          } else {
            val ch = if (id % 2 == 0) 1 else 3
            val samples = Array.tabulate(w * h * ch) { i =>
              val c = i % ch; val x = (i / ch) % w; val y = i / (ch * w)
              (seed + 31 * x + 13 * y + 7 * c) % 256
            }
            MediaRow(id, "image/png",
              graft.multimodal.PngCodec.encode(w, h, ch, samples),
              MediaMeta("synth", Some(w), Some(h), None))
          }
        }
      graft.multimodal.Multimodal.imageDHash(media)
    },
    Some("""WITH p AS (SELECT doc_id,
          9 * (1 + doc_id % 4) AS w,
          8 * (1 + n_chars % 3) AS h,
          CASE WHEN doc_id % 5 = 0 OR doc_id % 2 = 1 THEN 3 ELSE 1 END AS ch,
          doc_id % 5 = 0 AS gif,
          doc_id % 251 AS seed
        FROM documents),
      cells AS (SELECT doc_id, g1.range AS gy, g2.range AS gx,
          list_sum(list_transform(range(h//8), dy ->
            list_sum(list_transform(range(w//9), dx ->
              CASE WHEN gif THEN
                ((seed + 31*(gx*(w//9)+dx) + 13*(gy*(h//8)+dy)) % 256
                 + ((seed + 31*(gx*(w//9)+dx) + 13*(gy*(h//8)+dy)) % 256) * 7 % 256
                 + ((seed + 31*(gx*(w//9)+dx) + 13*(gy*(h//8)+dy)) % 256) * 13 % 256) // 3
              WHEN ch = 1 THEN
                (seed + 31*(gx*(w//9)+dx) + 13*(gy*(h//8)+dy)) % 256
              ELSE
                ((seed + 31*(gx*(w//9)+dx) + 13*(gy*(h//8)+dy)) % 256
                 + (seed + 31*(gx*(w//9)+dx) + 13*(gy*(h//8)+dy) + 7) % 256
                 + (seed + 31*(gx*(w//9)+dx) + 13*(gy*(h//8)+dy) + 14) % 256) // 3
              END))))
            // ((w//9) * (h//8)) AS g
        FROM p CROSS JOIN range(8) g1 CROSS JOIN range(9) g2),
      bits AS (SELECT a.doc_id, a.gy, a.gx,
          CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
        FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND a.gy = b.gy
          AND b.gx = a.gx + 1
        WHERE a.gx < 8)
      SELECT doc_id AS media_id,
        CAST(SUM(bit * (CASE WHEN gy*8+gx = 63 THEN -9223372036854775808
          ELSE (CAST(1 AS BIGINT) << CAST(gy*8+gx AS INTEGER)) END))
          AS BIGINT) AS dhash
      FROM bits GROUP BY doc_id"""))

  /** Banded dHash near-dup pairs (the image analog of q21/q42's text
    * LSH): fixture images are pure functions of the doc SEED (251
    * classes), so seed-sharing docs are pixel-identical — Hamming 0 —
    * while cross-seed coincidences within radius 3 are legitimate
    * finds. The Spark side generates candidates via the 4×16-bit-band
    * pigeonhole join (shuffles 8-byte hashes, never pixels); the oracle
    * checks ALL pairs within Hamming ≤ 3 — pigeonhole makes the two
    * sets provably equal, so a banding bug (a lost band, a wrong mask)
    * drops a pair and fails the hash. */
  private val q125 = Q("q125_image_near_dups",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, _) =>
          val seed = (id % 251).toInt
          val w = 9 * (1 + seed % 4)
          val h = 8 * (1 + seed % 3)
          val samples = Array.tabulate(w * h)(i =>
            (seed + 31 * (i % w) + 13 * (i / w)) % 256)
          MediaRow(id, "image/png",
            graft.multimodal.PngCodec.encode(w, h, 1, samples),
            MediaMeta("synth", Some(w), Some(h), None))
        }
      graft.multimodal.Multimodal.imageNearDups(
        graft.multimodal.Multimodal.imageDHash(media), maxHamming = 3)
    },
    Some("""WITH p AS (SELECT doc_id,
          9 * (1 + (doc_id % 251) % 4) AS w,
          8 * (1 + (doc_id % 251) % 3) AS h,
          doc_id % 251 AS seed
        FROM documents),
      cells AS (SELECT doc_id, g1.range AS gy, g2.range AS gx,
          list_sum(list_transform(range(h//8), dy ->
            list_sum(list_transform(range(w//9), dx ->
              (seed + 31*(gx*(w//9)+dx) + 13*(gy*(h//8)+dy)) % 256))))
            // ((w//9) * (h//8)) AS g
        FROM p CROSS JOIN range(8) g1 CROSS JOIN range(9) g2),
      bits AS (SELECT a.doc_id, a.gy, a.gx,
          CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
        FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND a.gy = b.gy
          AND b.gx = a.gx + 1
        WHERE a.gx < 8),
      d AS (SELECT doc_id,
          CAST(SUM(bit * (CASE WHEN gy*8+gx = 63 THEN -9223372036854775808
            ELSE (CAST(1 AS BIGINT) << CAST(gy*8+gx AS INTEGER)) END))
            AS BIGINT) AS dhash
        FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS a, b.doc_id AS b,
        CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3"""))

  /** Perceptual audio fingerprint (q124's PCM sibling): real WAV (even
    * ids) / AIFF (odd ids) 16-bit fixtures decode through PcmCodec, the
    * amplitude stream splits into 33 exact integer windows, and the 32
    * energy-contour comparisons become the hash. The oracle recomputes
    * synthesis → |amplitude| window sums → bit packing, so a drift
    * anywhere in decode→window→compare fails the hash. */
  private val q126 = Q("q126_audio_fingerprint",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val ch = 1 + (nc % 2).toInt
          val frames = 80 + (nc % 40).toInt
          val seed = (id % 251).toInt
          val samples = Array.tabulate(frames * ch)(i =>
            (seed + 9973 * i) % 65536 - 32768)
          val bytes =
            if (id % 2 == 0)
              graft.multimodal.PcmCodec.encodeWav(ch, 16000, 16, samples)
            else
              graft.multimodal.PcmCodec.encodeAiff(ch, 16000, 16, samples)
          MediaRow(id, if (id % 2 == 0) "audio/wav" else "audio/aiff",
            bytes, MediaMeta("synth", None, None, None))
        }
      graft.multimodal.Multimodal.audioFingerprint(media)
    },
    Some("""WITH p AS (SELECT doc_id,
          CAST(1 + n_chars % 2 AS INTEGER) AS ch,
          80 + n_chars % 40 AS frames,
          doc_id % 251 AS seed
        FROM documents),
      s AS (SELECT doc_id, frames * ch AS n, seed FROM p),
      w AS (SELECT doc_id, g.range AS wi,
          list_sum(list_transform(range(wi*n//33, (wi+1)*n//33), k ->
            abs((seed + 9973*k) % 65536 - 32768))) AS e
        FROM s CROSS JOIN range(33) g),
      b AS (SELECT a.doc_id, a.wi, CASE WHEN a.e < c.e THEN 1 ELSE 0 END AS bit
        FROM w a JOIN w c ON a.doc_id = c.doc_id AND c.wi = a.wi + 1
        WHERE a.wi < 32)
      SELECT doc_id AS media_id,
        CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(wi AS INTEGER)))
          AS BIGINT) AS afp
      FROM b GROUP BY doc_id"""))

  /** Deterministic named corpus split — the train/val/test primitive a
    * training pipeline re-derives years later: the md5 63-bit key's
    * permille bucket partitions by cumulative weights (900/50/50). The
    * oracle recomputes the split from the same documented key contract
    * (q52/q104's md5 formula), so the assignment is engine-portable and
    * the gate proves disjoint-and-exhaustive. */
  private val q127 = Q("q127_corpus_split",
    (s, d) => graft.operators.TrainingData.splitCorpus(
        documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", Seq("train" -> 900, "val" -> 50, "test" -> 50))
      .select(col("doc_id"), col("lang"), col("split")),
    Some("""WITH k AS (SELECT doc_id, lang,
          CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 16))
            AS UBIGINT) % 9223372036854775808 % 1000 AS BIGINT) AS bucket
        FROM documents)
      SELECT doc_id, lang,
        CASE WHEN bucket < 900 THEN 'train'
             WHEN bucket < 950 THEN 'val' ELSE 'test' END AS split
      FROM k"""))

  /** Baseline JPEG decode through the driver contract: block-constant
    * grayscale images (EVEN values, so the DC quantization
    * `round((v-128)/2)` has no float-half hazard and the decoded block
    * is exactly the source value) are encoded as REAL baseline JFIF —
    * forward DCT, uniform Q=16, differential DC, canonical Huffman
    * declared in DHT — and decoded back through the full
    * parse→Huffman→dequant→IDCT path inside the feature kernel. The
    * DC-only closed form makes the oracle exact: any drift in the
    * entropy layer, the DC predictor, the quant table plumbing, or the
    * IDCT constant term changes a decoded value and fails the hash.
    * (The AC path is spec-verified with bounded-error gradients —
    * lossy coefficients have no SQL-expressible closed form.) */
  private val q128 = Q("q128_jpeg_decode",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val w = 8 * (1 + (id % 6)).toInt
          val h = 8 * (1 + (nc % 4)).toInt
          val seed = (id % 251).toInt
          val samples = Array.tabulate(w * h) { i =>
            val bx = (i % w) / 8; val by = (i / w) / 8
            2 * ((seed + 17 * bx + 29 * by) % 128)
          }
          MediaRow(id, "image/jpeg",
            graft.multimodal.JpegCodec.encode(w, h, samples),
            MediaMeta("synth", Some(w), Some(h), None))
        }
      graft.multimodal.Multimodal.imageFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          (col("width").cast("long") * col("height")).as("n_pixels"),
          col("brightness"))
    },
    Some("""WITH p AS (SELECT doc_id,
          8 * (1 + doc_id % 6) AS w,
          8 * (1 + n_chars % 4) AS h,
          doc_id % 251 AS seed
        FROM documents),
      s AS (SELECT doc_id, w, h,
          64 * list_sum(list_transform(range(w//8 * (h//8)), b ->
            2 * ((seed + 17*(b % (w//8)) + 29*(b // (w//8))) % 128))) AS sm
        FROM p)
      SELECT doc_id AS media_id,
        CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        CAST(w*h AS BIGINT) AS n_pixels,
        CAST((sm*2000000 + w*h*255) // (2*w*h*255) AS DOUBLE)
          / 1000000.0 AS brightness
      FROM s"""))

  /** Color JPEG decode (q128's 3-component extension): block-constant
    * RGB encodes through the full forward chain — JFIF RGB→YCbCr (one
    * fixed IEEE sequence per channel), per-component interleaved MCUs,
    * differential DC per channel — at quant = 1, where the DC-only
    * mathematics is EXACT for any value, and decodes back through
    * parse→Huffman→dequant→IDCT→YCbCr→RGB. The oracle mirrors both
    * float sequences verbatim (forward and inverse transforms, round
    * half away, clamp order), so the decoded brightness is exactly
    * recomputable: a drift in any channel's predictor, table wiring, or
    * either color transform fails the hash. */
  private val q129 = Q("q129_jpeg_color",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val w = 8 * (1 + (id % 5)).toInt
          val h = 8 * (1 + (nc % 3)).toInt
          val seed = (id % 251).toInt
          val bw = w / 8
          val rgb = Array.tabulate(w * h * 3) { i =>
            val px = i / 3
            val bi = ((px / w) / 8) * bw + ((px % w) / 8)
            (i % 3) match {
              case 0 => (seed + 11 * bi) % 256
              case 1 => (3 * seed + 7 * bi) % 256
              case _ => (5 * seed + 13 * bi) % 256
            }
          }
          MediaRow(id, "image/jpeg",
            graft.multimodal.JpegCodec.encodeColor(w, h, rgb, quant = 1),
            MediaMeta("synth", Some(w), Some(h), None))
        }
      graft.multimodal.Multimodal.imageFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          (col("width").cast("long") * col("height")).as("n_pixels"),
          col("brightness"))
    },
    Some("""WITH p AS (SELECT doc_id,
          8 * (1 + doc_id % 5) AS w,
          8 * (1 + n_chars % 3) AS h,
          doc_id % 251 AS seed
        FROM documents),
      blk AS (SELECT doc_id, w, h, b.range AS bi,
          (seed + 11*b.range) % 256 AS rr,
          (3*seed + 7*b.range) % 256 AS gg,
          (5*seed + 13*b.range) % 256 AS bb
        FROM p CROSS JOIN range(15) b
        WHERE b.range < w//8 * (h//8)),
      ycc AS (SELECT doc_id, w, h, bi,
          LEAST(255, GREATEST(0, ROUND(
            CAST(0.299 AS DOUBLE)*rr + CAST(0.587 AS DOUBLE)*gg
              + CAST(0.114 AS DOUBLE)*bb))) AS yc,
          LEAST(255, GREATEST(0, ROUND(
            -CAST(0.168736 AS DOUBLE)*rr - CAST(0.331264 AS DOUBLE)*gg
              + CAST(0.5 AS DOUBLE)*bb + CAST(128 AS DOUBLE)))) AS cbc,
          LEAST(255, GREATEST(0, ROUND(
            CAST(0.5 AS DOUBLE)*rr - CAST(0.418688 AS DOUBLE)*gg
              - CAST(0.081312 AS DOUBLE)*bb + CAST(128 AS DOUBLE)))) AS crc
        FROM blk),
      dec AS (SELECT doc_id, w, h,
          LEAST(255, GREATEST(0, ROUND(yc +
            CAST(1.402 AS DOUBLE)*(crc - CAST(128 AS DOUBLE))))) +
          LEAST(255, GREATEST(0, ROUND(yc -
            CAST(0.344136 AS DOUBLE)*(cbc - CAST(128 AS DOUBLE)) -
            CAST(0.714136 AS DOUBLE)*(crc - CAST(128 AS DOUBLE))))) +
          LEAST(255, GREATEST(0, ROUND(yc +
            CAST(1.772 AS DOUBLE)*(cbc - CAST(128 AS DOUBLE))))) AS pxsum
        FROM ycc),
      s AS (SELECT doc_id, w, h,
          CAST(64 * SUM(pxsum) AS BIGINT) AS sm
        FROM dec GROUP BY doc_id, w, h)
      SELECT doc_id AS media_id,
        CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        CAST(w*h AS BIGINT) AS n_pixels,
        CAST((sm*2000000 + w*h*3*255) // (2*w*h*3*255) AS DOUBLE)
          / 1000000.0 AS brightness
      FROM s"""))

  /** 4:2:0 JPEG decode (the dominant real-world shape): MCU-constant
    * color at quant = 1 — the chroma 2×2 downsample of a constant is
    * the constant, so subsample → encode → decode → replicate-upsample
    * collapses to q129's exact per-MCU closed form, now exercising the
    * 4-Y-blocks-per-MCU interleave, the chroma plane geometry, and the
    * sampling-ratio pixel mapping. Oracle identical in structure to
    * q129 with 16×16 MCU blocks. */
  private val q130 = Q("q130_jpeg_420",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val w = 16 * (1 + (id % 3)).toInt
          val h = 16 * (1 + (nc % 2)).toInt
          val seed = (id % 251).toInt
          val mw = w / 16
          val rgb = Array.tabulate(w * h * 3) { i =>
            val px = i / 3
            val mi = ((px / w) / 16) * mw + ((px % w) / 16)
            (i % 3) match {
              case 0 => (seed + 11 * mi) % 256
              case 1 => (3 * seed + 7 * mi) % 256
              case _ => (5 * seed + 13 * mi) % 256
            }
          }
          MediaRow(id, "image/jpeg",
            graft.multimodal.JpegCodec.encodeColor420(w, h, rgb, quant = 1),
            MediaMeta("synth", Some(w), Some(h), None))
        }
      graft.multimodal.Multimodal.imageFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          (col("width").cast("long") * col("height")).as("n_pixels"),
          col("brightness"))
    },
    Some("""WITH p AS (SELECT doc_id,
          16 * (1 + doc_id % 3) AS w,
          16 * (1 + n_chars % 2) AS h,
          doc_id % 251 AS seed
        FROM documents),
      blk AS (SELECT doc_id, w, h, b.range AS bi,
          (seed + 11*b.range) % 256 AS rr,
          (3*seed + 7*b.range) % 256 AS gg,
          (5*seed + 13*b.range) % 256 AS bb
        FROM p CROSS JOIN range(6) b
        WHERE b.range < w//16 * (h//16)),
      ycc AS (SELECT doc_id, w, h, bi,
          LEAST(255, GREATEST(0, ROUND(
            CAST(0.299 AS DOUBLE)*rr + CAST(0.587 AS DOUBLE)*gg
              + CAST(0.114 AS DOUBLE)*bb))) AS yc,
          LEAST(255, GREATEST(0, ROUND(
            -CAST(0.168736 AS DOUBLE)*rr - CAST(0.331264 AS DOUBLE)*gg
              + CAST(0.5 AS DOUBLE)*bb + CAST(128 AS DOUBLE)))) AS cbc,
          LEAST(255, GREATEST(0, ROUND(
            CAST(0.5 AS DOUBLE)*rr - CAST(0.418688 AS DOUBLE)*gg
              - CAST(0.081312 AS DOUBLE)*bb + CAST(128 AS DOUBLE)))) AS crc
        FROM blk),
      dec AS (SELECT doc_id, w, h,
          LEAST(255, GREATEST(0, ROUND(yc +
            CAST(1.402 AS DOUBLE)*(crc - CAST(128 AS DOUBLE))))) +
          LEAST(255, GREATEST(0, ROUND(yc -
            CAST(0.344136 AS DOUBLE)*(cbc - CAST(128 AS DOUBLE)) -
            CAST(0.714136 AS DOUBLE)*(crc - CAST(128 AS DOUBLE))))) +
          LEAST(255, GREATEST(0, ROUND(yc +
            CAST(1.772 AS DOUBLE)*(cbc - CAST(128 AS DOUBLE))))) AS pxsum
        FROM ycc),
      s AS (SELECT doc_id, w, h,
          CAST(256 * SUM(pxsum) AS BIGINT) AS sm
        FROM dec GROUP BY doc_id, w, h)
      SELECT doc_id AS media_id,
        CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        CAST(w*h AS BIGINT) AS n_pixels,
        CAST((sm*2000000 + w*h*3*255) // (2*w*h*3*255) AS DOUBLE)
          / 1000000.0 AS brightness
      FROM s"""))

  /** Audio resample gate: 16-bit mono fixtures at 8/16/24 kHz resample
    * to 12 kHz through the rational-position linear interpolator
    * (integer quotient+remainder positions — no accumulating float
    * phase), re-encode into the same container, and re-decode for
    * features. The oracle recomputes EVERY resampled amplitude from the
    * synthesis formula via the identical fixed IEEE interpolation
    * sequence, then the q117-style exact integer feature layer on top —
    * a drift in the position arithmetic, the interpolation rounding, or
    * the re-encode round trip fails the hash. */
  private val q131 = Q("q131_audio_resample",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val frames = 60 + (nc % 40).toInt
          val r1 = 8000 * (1 + (id % 3)).toInt
          val seed = (id % 251).toInt
          val samples = Array.tabulate(frames)(i =>
            (seed + 9973 * i) % 65536 - 32768)
          val bytes =
            if (id % 2 == 0)
              graft.multimodal.PcmCodec.encodeWav(1, r1, 16, samples)
            else
              graft.multimodal.PcmCodec.encodeAiff(1, r1, 16, samples)
          MediaRow(id, if (id % 2 == 0) "audio/wav" else "audio/aiff",
            bytes, MediaMeta("synth", None, None, None))
        }
      graft.multimodal.Multimodal.audioFeatures(
          graft.multimodal.Multimodal.resampleAudio(media, 12000)).toDF()
        .select(col("media_id"), col("format"), col("channels"),
          col("sample_rate"), col("n_samples"), col("peak_abs"),
          col("sum_amp"), col("sum_sq"), col("mean_amp"), col("rms"))
    },
    Some("""WITH p AS (SELECT doc_id,
          8000 * (1 + doc_id % 3) AS r1,
          60 + n_chars % 40 AS frames,
          doc_id % 251 AS seed
        FROM documents),
      src AS (SELECT doc_id, r1, frames,
          list_transform(range(frames), i ->
            (seed + 9973*i) % 65536 - 32768) AS sm
        FROM p),
      rs AS (SELECT doc_id, r1, frames,
          (frames - 1) * 12000 // r1 + 1 AS nout, sm
        FROM src),
      o AS (SELECT doc_id, nout,
          list_transform(range(nout), i ->
            CASE WHEN (i*r1) % 12000 = 0 OR (i*r1) // 12000 + 2 > frames
              THEN CAST(sm[(i*r1) // 12000 + 1] AS BIGINT)
              ELSE CAST(ROUND(CAST(sm[(i*r1) // 12000 + 1] AS DOUBLE)
                + CAST(sm[(i*r1) // 12000 + 2] - sm[(i*r1) // 12000 + 1]
                    AS DOUBLE)
                  * ((i*r1) % 12000) / CAST(12000 AS DOUBLE)) AS BIGINT)
            END) AS os
        FROM rs)
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'aiff' END AS format,
        CAST(1 AS INTEGER) AS channels,
        CAST(12000 AS INTEGER) AS sample_rate,
        CAST(nout AS BIGINT) AS n_samples,
        CAST(list_max(list_transform(os, x -> abs(x))) AS INTEGER) AS peak_abs,
        CAST(list_sum(os) AS BIGINT) AS sum_amp,
        CAST(list_sum(list_transform(os, x -> x*x)) AS BIGINT) AS sum_sq,
        CAST(list_sum(os) AS DOUBLE) / nout AS mean_amp,
        sqrt(CAST(list_sum(list_transform(os, x -> x*x)) AS DOUBLE) / nout)
          AS rms
      FROM o"""))

  /** End-to-end multimodal dedup: q125's real-codec dHash near-dup
    * pairs become the edge set for the connected-components machinery
    * (the q89 auto chooser), proving the perceptual-fingerprint and
    * graph-clustering operators compose — decode → hash → banded pairs
    * → components in one plan chain. The oracle recomputes the dHash
    * pipeline, ALL pairs within Hamming ≤ 3, and the transitive closure
    * (WITH RECURSIVE min-reachable), the same reachability contract as
    * q56/q79/q89. */
  private val q132 = Q("q132_image_dedup_clusters",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, _) =>
          val seed = (id % 251).toInt
          val w = 9 * (1 + seed % 4)
          val h = 8 * (1 + seed % 3)
          val samples = Array.tabulate(w * h)(i =>
            (seed + 31 * (i % w) + 13 * (i / w)) % 256)
          MediaRow(id, "image/png",
            graft.multimodal.PngCodec.encode(w, h, 1, samples),
            MediaMeta("synth", Some(w), Some(h), None))
        }
      val hashes = graft.multimodal.Multimodal.imageDHash(media)
      // the collapsed composition (identical dHashes -> one leader ->
      // banded pairs -> components -> expand): provably the same labels
      // as the uncollapsed pairs->componentsAuto chain, minus the
      // C(m,2) pair listing inside identical-image classes
      graft.multimodal.Multimodal.imageDupClusters(hashes, maxHamming = 3)
    },
    Some("""WITH RECURSIVE p AS (SELECT doc_id,
          9 * (1 + (doc_id % 251) % 4) AS w,
          8 * (1 + (doc_id % 251) % 3) AS h,
          doc_id % 251 AS seed
        FROM documents),
      cells AS (SELECT doc_id, g1.range AS gy, g2.range AS gx,
          list_sum(list_transform(range(h//8), dy ->
            list_sum(list_transform(range(w//9), dx ->
              (seed + 31*(gx*(w//9)+dx) + 13*(gy*(h//8)+dy)) % 256))))
            // ((w//9) * (h//8)) AS g
        FROM p CROSS JOIN range(8) g1 CROSS JOIN range(9) g2),
      bits AS (SELECT a.doc_id, a.gy, a.gx,
          CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
        FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND a.gy = b.gy
          AND b.gx = a.gx + 1
        WHERE a.gx < 8),
      dh AS (SELECT doc_id,
          CAST(SUM(bit * (CASE WHEN gy*8+gx = 63 THEN -9223372036854775808
            ELSE (CAST(1 AS BIGINT) << CAST(gy*8+gx AS INTEGER)) END))
            AS BIGINT) AS dhash
        FROM bits GROUP BY doc_id),
      pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM dh a JOIN dh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
      edges AS (SELECT d1 AS src, d2 AS dst FROM pr
                UNION SELECT d2, d1 FROM pr),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      mn AS (SELECT src, MIN(dst) AS m FROM reach GROUP BY src)
      SELECT d.doc_id AS doc,
        CAST(LEAST(d.doc_id, COALESCE(mn.m, d.doc_id)) AS BIGINT) AS component
      FROM documents d LEFT JOIN mn ON d.doc_id = mn.src"""))

  /** HTML → text extraction (crawl boilerplate stripping): every
    * document wraps into deterministic HTML — style/script elements
    * with hostile angle-bracket contents, headings, entities including
    * the double-encoded `&amp;amp;`, a comment — and
    * [[graft.functions.TextExprs.htmlToText]] recovers the text via a
    * pure codegen'd regexp chain. Every construct is RE2-compatible by
    * design, so the oracle applies the IDENTICAL chain (with DuckDB's
    * explicit 'g' flag) to the identically-built wrapper: scripts drop
    * WITH contents, tags strip, entities single-decode (&amp; last),
    * whitespace collapses. */
  private val q133 = Q("q133_html_to_text",
    (s, d) => {
      val wrapped = concat(
        lit("<html><head><style>p { color: red }</style>" +
          "<script type=\"text/js\">var a = \"<p>evil</p>\";</script>" +
          "</head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"),
        lit(" &amp;amp; <b>bold</b> &lt;tag&gt; &quot;q&quot; " +
          "&#39;s&#39;</p><!-- trailing comment --></body></html>"))
      val clean = graft.functions.TextExprs.htmlToText(wrapped)
      documents(s, d).select(col("doc_id"), clean.as("clean"))
        .withColumn("n_tokens",
          size(graft.functions.TextExprs.tokens(col("clean"))))
    },
    Some("""WITH w AS (SELECT doc_id,
          '<html><head><style>p { color: red }</style>' ||
          '<script type="text/js">var a = "<p>evil</p>";</script>' ||
          '</head><body><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
          '</h1><p>' || text ||
          ' &amp;amp; <b>bold</b> &lt;tag&gt; &quot;q&quot; ' ||
          '&#39;s&#39;</p><!-- trailing comment --></body></html>' AS html
        FROM documents),
      f AS (SELECT doc_id,
          trim(regexp_replace(
            regexp_replace(
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(html,
                      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
                    '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
                  '<[^>]*>', ' ', 'g'),
                '&lt;', '<', 'g'), '&gt;', '>', 'g'),
                '&quot;', '"', 'g'), '&#39;', CHR(39), 'g'),
              '&amp;', '&', 'g'),
            '\s+', ' ', 'g')) AS clean
        FROM w)
      SELECT doc_id, clean,
        CAST(len(string_split_regex(trim(clean), '\s+')) AS INTEGER)
          AS n_tokens
      FROM f"""))

  /** Restart-marker JPEG (the shape most real encoders emit): q128's
    * block-constant fixtures re-encoded with a 3-MCU restart interval —
    * byte-aligned RSTn boundaries resetting every DC predictor — must
    * decode to the IDENTICAL closed form, so the oracle is q128's
    * verbatim. A desynchronized restart (wrong alignment, missed
    * predictor reset, marker mis-consume) shifts decoded DC values and
    * fails the hash. */
  private val q134 = Q("q134_jpeg_restart",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val w = 8 * (1 + (id % 6)).toInt
          val h = 8 * (1 + (nc % 4)).toInt
          val seed = (id % 251).toInt
          val samples = Array.tabulate(w * h) { i =>
            val bx = (i % w) / 8; val by = (i / w) / 8
            2 * ((seed + 17 * bx + 29 * by) % 128)
          }
          MediaRow(id, "image/jpeg",
            graft.multimodal.JpegCodec.encode(w, h, samples,
              restartInterval = 3),
            MediaMeta("synth", Some(w), Some(h), None))
        }
      graft.multimodal.Multimodal.imageFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          (col("width").cast("long") * col("height")).as("n_pixels"),
          col("brightness"))
    },
    Some("""WITH p AS (SELECT doc_id,
          8 * (1 + doc_id % 6) AS w,
          8 * (1 + n_chars % 4) AS h,
          doc_id % 251 AS seed
        FROM documents),
      s AS (SELECT doc_id, w, h,
          64 * list_sum(list_transform(range(w//8 * (h//8)), b ->
            2 * ((seed + 17*(b % (w//8)) + 29*(b // (w//8))) % 128))) AS sm
        FROM p)
      SELECT doc_id AS media_id,
        CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        CAST(w*h AS BIGINT) AS n_pixels,
        CAST((sm*2000000 + w*h*255) // (2*w*h*255) AS DOUBLE)
          / 1000000.0 AS brightness
      FROM s"""))

  /** Banded audio near-dups (q125's audio sibling, closing the dedup
    * symmetry): clips are pure functions of the doc SEED, so
    * seed-sharing docs are sample-identical — Hamming 0 on the
    * energy-contour fingerprint — while cross-seed coincidences within
    * radius 3 are legitimate finds. Spark generates candidates via the
    * 4×8-bit-band pigeonhole join over the 32-bit hash; the oracle
    * checks ALL pairs within radius, provably equal to the banded set. */
  private val q135 = Q("q135_audio_near_dups",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, _) =>
          val seed = (id % 251).toInt
          val frames = 80 + seed % 40
          val samples = Array.tabulate(frames)(i =>
            (seed + 9973 * i) % 65536 - 32768)
          MediaRow(id, "audio/wav",
            graft.multimodal.PcmCodec.encodeWav(1, 16000, 16, samples),
            MediaMeta("synth", None, None, None))
        }
      graft.multimodal.Multimodal.audioNearDups(
        graft.multimodal.Multimodal.audioFingerprint(media), maxHamming = 3)
    },
    Some("""WITH p AS (SELECT doc_id,
          80 + (doc_id % 251) % 40 AS n,
          doc_id % 251 AS seed
        FROM documents),
      w AS (SELECT doc_id, g.range AS wi,
          list_sum(list_transform(range(wi*n//33, (wi+1)*n//33), k ->
            abs((seed + 9973*k) % 65536 - 32768))) AS e
        FROM p CROSS JOIN range(33) g),
      b AS (SELECT a.doc_id, a.wi, CASE WHEN a.e < c.e THEN 1 ELSE 0 END AS bit
        FROM w a JOIN w c ON a.doc_id = c.doc_id AND c.wi = a.wi + 1
        WHERE a.wi < 32),
      fp AS (SELECT doc_id,
          CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(wi AS INTEGER)))
            AS BIGINT) AS afp
        FROM b GROUP BY doc_id)
      SELECT a.doc_id AS a, b.doc_id AS b,
        CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.afp, b.afp)) <= 3"""))

  /** Real image downscale (the resize stub retired for decodable
    * payloads): q50-style PNG fixtures with 3-divisible dims shrink by
    * an exact half-up 3×3 box mean and re-encode as PNG; features of
    * the RESIZED payload — dims and micro-unit brightness over the box
    * means — are recomputed by the oracle from the synthesis formula,
    * so a wrong box boundary, a float mean, or a re-encode defect
    * fails the hash. */
  private val q136 = Q("q136_image_downscale",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val w = 3 * (1 + (id % 16)).toInt
          val h = 3 * (1 + (nc % 10)).toInt
          val ch = if (id % 2 == 0) 1 else 3
          val seed = (id % 251).toInt
          val samples = Array.tabulate(w * h * ch) { i =>
            val c = i % ch; val x = (i / ch) % w; val y = i / (ch * w)
            (seed + 31 * x + 13 * y + 7 * c) % 256
          }
          MediaRow(id, "image/png",
            graft.multimodal.PngCodec.encode(w, h, ch, samples),
            MediaMeta("synth", Some(w), Some(h), None))
        }
      graft.multimodal.Multimodal.imageFeatures(
          graft.multimodal.Multimodal.downscaleImages(media, factor = 3))
        .toDF()
        .select(col("media_id"), col("width"), col("height"),
          (col("width").cast("long") * col("height")).as("n_pixels"),
          col("brightness"))
    },
    Some("""WITH p AS (SELECT doc_id,
          3 * (1 + doc_id % 16) AS w,
          3 * (1 + CAST(n_chars AS BIGINT) % 10) AS h,
          CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
          doc_id % 251 AS seed
        FROM documents),
      s AS (SELECT doc_id, w//3 AS ow, h//3 AS oh, ch,
          list_sum(list_transform(range(w//3 * (h//3) * ch), i ->
            (2 * list_sum(list_transform(range(9), r ->
              (seed + 31*(3*((i // ch) % (w//3)) + r % 3)
               + 13*(3*(i // (ch * (w//3))) + r // 3)
               + 7*(i % ch)) % 256)) + 9) // 18)) AS sm
        FROM p)
      SELECT doc_id AS media_id,
        CAST(ow AS INTEGER) AS width, CAST(oh AS INTEGER) AS height,
        CAST(ow*oh AS BIGINT) AS n_pixels,
        CAST((sm*2000000 + ow*oh*ch*255) // (2*ow*oh*ch*255) AS DOUBLE)
          / 1000000.0 AS brightness
      FROM s"""))

  /** Real video frame extraction (MJPEG): per document an MJPEG AVI
    * with 2-4 block-constant JPEG frames (even values — the q128 exact
    * DC form per frame) goes through the full container walk → per-
    * frame JPEG decode → features chain; frame_ms comes from the
    * container's µs-per-frame clock. The oracle recomputes every
    * frame's brightness and timestamp from the synthesis formulas, so
    * a mis-sliced movi chunk, a dropped frame, a wrong clock, or any
    * JPEG defect fails the hash. */
  private val q137 = Q("q137_mjpeg_frames",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, _) =>
          val nf = 2 + (id % 3).toInt
          val us = 33000 + ((id % 5) * 1000).toInt
          val seed = (id % 251).toInt
          val frames = (0 until nf).map { f =>
            val samples = Array.tabulate(256) { i =>
              val b = ((i % 16) / 8) + 2 * ((i / 16) / 8)
              2 * ((seed + 5 * f + 17 * (b % 2) + 29 * (b / 2)) % 128)
            }
            graft.multimodal.JpegCodec.encode(16, 16, samples)
          }
          MediaRow(id, "video/x-msvideo",
            graft.multimodal.VideoFixture.encodeMjpegAvi(16, 16, us, frames),
            MediaMeta("synth", Some(16), Some(16), None))
        }
      val fr = graft.multimodal.Multimodal.mjpegFrames(media)
      val fmedia = fr.map(f => MediaRow(f.media_id * 8 + f.frame_idx,
        "image/jpeg", f.frame, MediaMeta("frame", None, None, None)))
      val feats = graft.multimodal.Multimodal.imageFeatures(fmedia).toDF()
        .select(col("media_id").as("fid"), col("width"), col("height"),
          col("brightness"))
      fr.toDF()
        .select(col("media_id"), col("frame_idx"), col("frame_ms"),
          (col("media_id") * 8 + col("frame_idx")).as("fid"))
        .join(feats, Seq("fid"))
        .drop("fid")
    },
    Some("""WITH p AS (SELECT doc_id,
          2 + doc_id % 3 AS nf,
          33000 + (doc_id % 5) * 1000 AS us,
          doc_id % 251 AS seed
        FROM documents),
      fr AS (SELECT doc_id, us, seed, f.range AS fi
        FROM p CROSS JOIN range(4) f WHERE f.range < nf),
      s AS (SELECT doc_id, fi, us,
          64 * list_sum(list_transform(range(4), b ->
            2 * ((seed + 5*fi + 17*(b % 2) + 29*(b // 2)) % 128))) AS sm
        FROM fr)
      SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_idx,
        CAST(fi * us // 1000 AS BIGINT) AS frame_ms,
        CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        CAST((sm*2000000 + 16*16*255) // (2*16*16*255) AS DOUBLE)
          / 1000000.0 AS brightness
      FROM s"""))

  /** Deterministic messy-URL fixture shared by q138/q139: group g =
    * doc_id % 50 fixes the canonical target; variant v = doc_id % 6
    * picks the mess — upper-case scheme/host + www + default port +
    * duplicate slashes + trailing slash + unsorted params + fragment +
    * lowercase reserved escape hex (v=1), utm_* tracking params (v=2),
    * www + gclid + unsorted (v=3), host trailing root-dot + unreserved
    * escape in the path (`it%65m`) + escaped param NAME (`%61=`) +
    * lowercase reserved hex (v=4), unreserved escape in the HOST
    * (`c%6Fm`) + default port + unsorted (v=5), already-canonical
    * (v=0). Every variant canonicalizes to
    * `https://site{g%7}.example.com/cat/item{g%10}?a={g%3}&b=x%2Fy`
    * (the `%2F` pins reserved-escape preservation + hex uppercasing),
    * which the oracles recompute directly from the formula — so a wrong
    * port rule, an unsorted param, a kept tracking key, a decoded
    * reserved escape, or an undecoded unreserved escape all
    * hash-mismatch. */
  private def messyUrl: Column = {
    val g = col("doc_id") % 50
    val v = col("doc_id") % 6
    val h = (g % 7).cast("string"); val m = (g % 10).cast("string")
    val a = (g % 3).cast("string")
    val gs = g.cast("string")
    when(v === 0, concat(lit("https://site"), h, lit(".example.com/cat/item"), m,
        lit("?a="), a, lit("&b=x%2Fy")))
      .when(v === 1, concat(lit("HTTPS://WWW.Site"), h, lit(".Example.COM:443/cat//item"), m,
        lit("/?b=x%2fy&a="), a, lit("#frag"), gs))
      .when(v === 2, concat(lit("https://site"), h, lit(".example.com/cat/item"), m,
        lit("/?utm_source=feed&a="), a, lit("&b=x%2Fy&utm_campaign=x"), gs))
      .when(v === 3, concat(lit("https://www.site"), h, lit(".example.com/cat/item"), m,
        lit("?b=x%2Fy&gclid=abc"), gs, lit("&a="), a))
      .when(v === 4, concat(lit("https://site"), h, lit(".example.com./cat/it%65m"), m,
        lit("?%61="), a, lit("&b=x%2fy")))
      .otherwise(concat(lit("https://site"), h, lit(".example.c%6Fm:443/cat/item"), m,
        lit("?b=x%2Fy&a="), a))
  }

  /** URL canonicalization + crawl dedup: one narrow codegen'd scan
    * normalizes four messy variants onto one canonical form, then the
    * only exchange is the groupBy on the short canonical string —
    * keeper = min doc_id, the crawl-frontier "first fetch wins" rule. */
  private val q138 = Q("q138_url_canonical_dedup",
    (s, d) => documents(s, d)
      .select(col("doc_id"), messyUrl.as("url"))
      .select(col("doc_id"),
        graft.functions.UrlExprs.canonicalizeUrl(col("url")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups")),
    Some("""WITH u AS (SELECT doc_id, doc_id % 50 AS g FROM documents),
      c AS (SELECT doc_id,
          'https://site' || (g % 7) || '.example.com/cat/item' || (g % 10) ||
          '?a=' || (g % 3) || '&b=x%2Fy' AS canonical_url
        FROM u)
      SELECT canonical_url, MIN(doc_id) AS keeper, COUNT(*) AS n_dups
      FROM c GROUP BY canonical_url"""))

  /** Robots-style crawl-policy filter: per-host rules with
    * longest-match-wins (by RAW pattern length, Google semantics) and
    * allow-beats-disallow-on-tie, decided by one broadcast join + an
    * argmax over matched rules. The rule set exercises every semantic:
    * a host-wide `/cat` disallow, a longer `/cat/item{h}` allow
    * override, an exact allow/disallow TIE on `/cat/item{h+1}` that
    * allow must win, a WILDCARD+ANCHOR disallow `/cat/it*m{h+2}$`
    * (len 11) that outranks the literal allows, a slash-star wildcard
    * allow on `item{h+4}` (len 8) that outranks `/cat`, and an inert
    * anchored rule `/cat/ite$` (len 9) that matches nothing — an
    * implementation that drops the `$` would turn it into a
    * catch-all allow and hash-mismatch. */
  private val q139 = Q("q139_crawl_policy",
    (s, d) => {
      import s.implicits._
      val rules = (0 until 7).flatMap { h =>
        val host = s"site$h.example.com"
        Seq((host, "/cat", false),
          (host, s"/cat/item$h", true),
          (host, s"/cat/item${(h + 1) % 10}", true),
          (host, s"/cat/item${(h + 1) % 10}", false),
          (host, s"/cat/it*m${(h + 2) % 10}$$", false),
          (host, s"/*/item${(h + 4) % 10}", true),
          (host, "/cat/ite$", true))
      }.toDF("host", "prefix", "allow")
      val docs = documents(s, d).select(col("doc_id"), messyUrl.as("url"))
      graft.operators.CrawlPolicy.applyPolicy(docs, "doc_id", "url", rules)
        .select(col("doc_id"), col("allowed").cast("int").as("allowed"),
          col("matched_prefix"))
    },
    Some("""WITH u AS (SELECT doc_id, doc_id % 50 AS g FROM documents),
      k AS (SELECT doc_id, g % 7 AS h, g % 10 AS m FROM u)
      SELECT doc_id,
        CAST(CASE WHEN m = h OR m = (h + 1) % 10 THEN 1
                  WHEN m = (h + 2) % 10 THEN 0
                  WHEN m = (h + 4) % 10 THEN 1
                  ELSE 0 END AS INTEGER) AS allowed,
        CASE WHEN m = h OR m = (h + 1) % 10 THEN '/cat/item' || m
             WHEN m = (h + 2) % 10 THEN '/cat/it*m' || m || '$'
             WHEN m = (h + 4) % 10 THEN '/*/item' || m
             ELSE '/cat' END AS matched_prefix
      FROM k"""))

  /** Integer-autocorrelation periodicity detection: each doc carries an
    * exactly-periodic 16-bit PCM clip (period 20+id%30, a
    * pseudo-random-within-period waveform); the operator decodes and
    * scans lags 20..49 for the exact-integer autocorrelation argmax
    * (ties → smallest lag). The oracle recomputes every R(lag) from the
    * sample formula and takes the same argmax, so a wrong lag window,
    * an off-by-one in the product count, or any decode defect fails the
    * hash. */
  private val q140 = Q("q140_audio_periodicity",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, _) =>
          val per = 20 + (id % 30).toInt
          val n = 200 + (id % 5).toInt * 20
          val samples = Array.tabulate(n)(i => ((i % per) * 1999) % 4001 - 2000)
          MediaRow(id, "audio/wav",
            graft.multimodal.PcmCodec.encodeWav(1, 16000, 16, samples),
            MediaMeta("synth", None, None, None))
        }
      graft.multimodal.Multimodal.audioPeriodicity(media, minLag = 20, maxLag = 49)
    },
    Some("""WITH p AS (SELECT doc_id,
          20 + doc_id % 30 AS per,
          200 + (doc_id % 5) * 20 AS n
        FROM documents),
      r AS (SELECT doc_id, l.range AS lag,
          list_sum(list_transform(range(n - lag), i ->
            (((i % per) * 1999) % 4001 - 2000)
            * ((((i + lag) % per) * 1999) % 4001 - 2000))) AS r
        FROM p CROSS JOIN range(20, 50) l)
      SELECT media_id, period_lag, period_score FROM (
        SELECT doc_id AS media_id, CAST(lag AS INTEGER) AS period_lag,
          CAST(r AS BIGINT) AS period_score,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY r DESC, lag) AS rn
        FROM r) WHERE rn = 1"""))

  /** Walsh-Hadamard spectral sign hash (the pHash family with the DCT
    * replaced by the integer-exact WHT): decode → 8×8 area means → 15
    * low-frequency coefficients → sign-vs-median bits. The oracle
    * recomputes the grid, the transform, the exact integer median, and
    * every bit from the pixel synthesis formula. */
  private val q141 = Q("q141_image_spectral_hash",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val w = 8 * (1 + (id % 6)).toInt
          val h = 8 * (1 + (nc % 5)).toInt
          val ch = if (id % 2 == 0) 1 else 3
          val seed = (id % 251).toInt
          val samples = Array.tabulate(w * h * ch) { i =>
            val c = i % ch; val x = (i / ch) % w; val y = i / (ch * w)
            (seed + 31 * x + 13 * y + 7 * c) % 256
          }
          MediaRow(id, "image/png",
            graft.multimodal.PngCodec.encode(w, h, ch, samples),
            MediaMeta("synth", Some(w), Some(h), None))
        }
      graft.multimodal.Multimodal.imageSpectralHash(media)
    },
    Some("""WITH p AS (SELECT doc_id,
          8 * (1 + doc_id % 6) AS w,
          8 * (1 + CAST(n_chars AS BIGINT) % 5) AS h,
          CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
          doc_id % 251 AS seed
        FROM documents),
      g AS (SELECT doc_id, list_transform(range(64), cell ->
          list_sum(list_transform(range((w//8)*(h//8)), j ->
            CASE WHEN ch = 1 THEN
              (seed + 31*((cell%8)*(w//8) + j%(w//8))
               + 13*((cell//8)*(h//8) + j//(w//8))) % 256
            ELSE
              ((seed + 31*((cell%8)*(w//8) + j%(w//8))
                + 13*((cell//8)*(h//8) + j//(w//8))) % 256
               + (seed + 31*((cell%8)*(w//8) + j%(w//8))
                  + 13*((cell//8)*(h//8) + j//(w//8)) + 7) % 256
               + (seed + 31*((cell%8)*(w//8) + j%(w//8))
                  + 13*((cell//8)*(h//8) + j//(w//8)) + 14) % 256) // 3
            END)) // ((w//8)*(h//8))) AS gm
        FROM p),
      c AS (SELECT doc_id, list_transform(range(15), t ->
          list_sum(list_transform(range(64), cell ->
            gm[cell+1] * (CASE WHEN (bit_count((cell//8) & ((t+1)//4))
              + bit_count((cell%8) & ((t+1)%4))) % 2 = 0
              THEN 1 ELSE -1 END)))) AS cf
        FROM g)
      SELECT doc_id AS media_id,
        CAST(list_sum(list_transform(range(15), t ->
          CASE WHEN cf[t+1] > list_sort(cf)[8] THEN 1 << t ELSE 0 END))
          AS INTEGER) AS shash
      FROM c"""))

  /** Directional containment (partial-duplicate / quote detection): the
    * corpus is every document PLUS a derived 15-token prefix "quote" doc
    * (id + 1000000), so src↦dst containment ≈ 1 pairs exist by
    * construction. The operator's prefix-filtered candidates are EXACT,
    * so the oracle needs no candidate mirror — it computes containment
    * over ALL pairs sharing any shingle and filters by the threshold.
    * 5-gram shingles keep the shingle space far larger than the corpus
    * (the near-linearity knob for every shingle-based similarity
    * join). */
  private val q142 = Q("q142_containment_pairs",
    (s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("text"))
      val derived = documents(s, d).select(
        (col("doc_id") + 1000000).as("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), 1, 15), " ").as("text"))
      Dedup.containmentPairs(base.union(derived), "doc_id", "text",
        threshold = 0.9, ngram = 5)
    },
    Some("""WITH tkn AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
          FROM documents),
      corpus AS (SELECT doc_id, tk FROM tkn
        UNION ALL SELECT doc_id + 1000000, tk[1:15] FROM tkn),
      h AS (SELECT DISTINCT doc_id AS doc,
          CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS UBIGINT) AS BIGINT) AS hv
        FROM (SELECT doc_id,
                unnest(list_transform(range(len(tk) - 4),
                  i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
                       || ' ' || tk[i+4] || ' ' || tk[i+5])) AS tok
              FROM corpus WHERE len(tk) >= 5)),
      sz AS (SELECT doc, COUNT(*) AS n FROM h GROUP BY doc),
      inter AS (SELECT a.doc AS src, b.doc AS dst, COUNT(*) AS inter
        FROM h a JOIN h b ON a.hv = b.hv AND a.doc <> b.doc
        GROUP BY a.doc, b.doc)
      SELECT src, dst, n AS n_src,
        ROUND(CAST(inter AS DOUBLE) / n, 6) AS containment
      FROM inter JOIN sz ON sz.doc = src
      WHERE CAST(inter AS DOUBLE) / n >= 0.9"""))

  /** The production near-dup dedup pipeline end-to-end in ONE call —
    * minhash-LSH pairs (q21) verified by Jaccard (q20), resolved into
    * clusters (q56/q89 components), best-quality representative per
    * cluster (q41's keep-best rule lifted to near-duplicates). The
    * oracle recomputes every stage: signature banding from the same
    * hash constants, candidate-verified Jaccard, WITH RECURSIVE
    * closure, windowed representative pick. */
  private val q143 = Q("q143_near_dup_keep_best",
    (s, d) => Dedup.nearDupKeepBest(documents(s, d), "doc_id", "text",
      "n_chars", threshold = 0.4),
    Some {
      val p = Dedup.MinhashPrime
      val mins = Dedup.MinhashParams.zipWithIndex.map { case ((a, b), i) =>
        s"MIN(($a * hv + $b) % $p) AS m$i"
      }.mkString(", ")
      val bandSel = (0 until 4).map { bnd =>
        val cols = (bnd * 4 until (bnd + 1) * 4)
          .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || '_' || ")
        s"SELECT doc, $bnd AS band, md5($cols) AS bucket FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH RECURSIVE $shingleCte,
        sig AS (SELECT doc, $mins FROM h GROUP BY doc),
        band AS ($bandSel),
        cand AS (SELECT DISTINCT a.doc AS d1, b.doc AS d2
          FROM band a JOIN band b ON a.band = b.band
            AND a.bucket = b.bucket AND a.doc < b.doc),
        sz AS (SELECT doc, COUNT(*) AS n FROM h GROUP BY doc),
        inter AS (SELECT c.d1, c.d2, COUNT(*) AS i
          FROM cand c
          JOIN h a ON a.doc = c.d1
          JOIN h b ON b.doc = c.d2 AND b.hv = a.hv
          GROUP BY c.d1, c.d2),
        pr AS (SELECT d1, d2
          FROM inter JOIN sz s1 ON d1 = s1.doc JOIN sz s2 ON d2 = s2.doc
          WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.4),
        edges AS (SELECT d1 AS src, d2 AS dst FROM pr
                  UNION SELECT d2, d1 FROM pr),
        reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        mn AS (SELECT src, MIN(dst) AS m FROM reach GROUP BY src),
        lab AS (SELECT d.doc_id AS doc,
            LEAST(d.doc_id, COALESCE(mn.m, d.doc_id)) AS component, d.n_chars
          FROM documents d LEFT JOIN mn ON d.doc_id = mn.src),
        rk AS (SELECT component, doc, n_chars,
            ROW_NUMBER() OVER (PARTITION BY component
              ORDER BY n_chars DESC, doc) AS rn,
            COUNT(*) OVER (PARTITION BY component) AS n_members
          FROM lab)
        SELECT CAST(component AS BIGINT) AS component, doc AS rep,
          CAST(n_members AS BIGINT) AS n_members
        FROM rk WHERE rn = 1"""
    })

  /** Audio activity segmentation (gaps-and-islands over decoded PCM):
    * block-structured fixtures alternate pseudo-random active/silent
    * 7-sample blocks, so runs come in multiples of 7 (tail-truncated)
    * and minRun=10 genuinely drops the single-block runs. The oracle
    * rebuilds every boundary from the sample formula with the classic
    * i − ROW_NUMBER() islands trick. */
  private val q144 = Q("q144_audio_segments",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, _) =>
          val n = 180 + (id % 4).toInt * 30
          val seed = (id % 251).toInt
          val samples = Array.tabulate(n) { i =>
            if (((i / 7) * 31 + seed) % 10 < 6) 200 + (i * 29 + seed) % 300
            else (i * 13 + seed) % 100 - 50
          }
          MediaRow(id, "audio/wav",
            graft.multimodal.PcmCodec.encodeWav(1, 16000, 16, samples),
            MediaMeta("synth", None, None, None))
        }
      graft.multimodal.Multimodal.audioActiveSegments(media,
        threshold = 100, minRun = 10)
    },
    Some("""WITH p AS (SELECT doc_id,
          180 + (doc_id % 4) * 30 AS n,
          doc_id % 251 AS seed
        FROM documents),
      s AS (SELECT doc_id, j.range AS i,
          CASE WHEN ((j.range // 7) * 31 + seed) % 10 < 6
            THEN 200 + (j.range * 29 + seed) % 300
            ELSE (j.range * 13 + seed) % 100 - 50 END AS amp
        FROM p CROSS JOIN range(270) j WHERE j.range < n),
      g AS (SELECT doc_id, i, amp,
          CASE WHEN abs(amp) >= 100 THEN 1 ELSE 0 END AS act,
          i - ROW_NUMBER() OVER (PARTITION BY doc_id,
            CASE WHEN abs(amp) >= 100 THEN 1 ELSE 0 END ORDER BY i) AS grp
        FROM s),
      seg AS (SELECT doc_id, MIN(i) AS st, MAX(i) + 1 AS en,
          COUNT(*) AS ns, MAX(abs(amp)) AS pk
        FROM g WHERE act = 1 GROUP BY doc_id, grp HAVING COUNT(*) >= 10)
      SELECT doc_id AS media_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st) - 1
          AS INTEGER) AS seg_idx,
        CAST(st AS INTEGER) AS "start", CAST(en AS INTEGER) AS end_excl,
        CAST(ns AS INTEGER) AS n_samples, CAST(pk AS INTEGER) AS peak
      FROM seg"""))

  /** Embedding corpus-drift: per-label centroid cosine between the
    * embeddings table and a deterministically shifted version (+0.25 on
    * every element of label ≡ 0 mod 3 — those labels drift below 1,
    * the rest pin at the engine-identical self-cosine). The oracle
    * reproduces the full integer-micro protocol: floor(x·2^20) per
    * element, exact component sums, DECIMAL(19)×DECIMAL(19) quadratic
    * forms, one final IEEE divide. */
  private val q145 = Q("q145_embedding_drift",
    (s, d) => {
      val e = embeddings(s, d)
      val b = e.select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double") +
          when(col("label") % 3 === 0, lit(0.25)).otherwise(lit(0.0)))
          .as("embedding"))
      Similarity.embeddingDrift(e, b, "label", "embedding")
    },
    Some("""WITH ev AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
      m AS (SELECT label, j.range AS pos,
          CAST(FLOOR(v[j.range + 1] * 1048576) AS BIGINT) AS ma,
          CAST(FLOOR((v[j.range + 1] +
            CASE WHEN label % 3 = 0 THEN 0.25 ELSE 0.0 END) * 1048576)
            AS BIGINT) AS mb
        FROM ev CROSS JOIN range(4096) j WHERE j.range < len(v)),
      s AS (SELECT label, pos, SUM(ma) AS sa, SUM(mb) AS sb,
          COUNT(*) AS c
        FROM m GROUP BY label, pos),
      g AS (SELECT label,
          SUM(CAST(sa AS DECIMAL(19,0)) * CAST(sb AS DECIMAL(19,0))) AS dot,
          SUM(CAST(sa AS DECIMAL(19,0)) * CAST(sa AS DECIMAL(19,0))) AS na,
          SUM(CAST(sb AS DECIMAL(19,0)) * CAST(sb AS DECIMAL(19,0))) AS nb,
          MAX(c) AS n_a
        FROM s GROUP BY label)
      SELECT label, n_a, n_a AS n_b,
        CAST(CAST(dot AS DOUBLE) /
          (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
          AS DOUBLE) AS drift_cos
      FROM g"""))

  /** Incremental IVF append (q120's persisted index grown without
    * retrain): the index is trained and saved on the EVEN half of the
    * corpus only, the odd half arrives later via
    * [[graft.operators.IvfIndex.appendToIndex]] (one delta-sized
    * assignment scan, postings appended in place), and the search runs
    * against the grown index. nProbe = k exhausts the probes, so the
    * oracle is exact brute force over the FULL corpus — a vector lost
    * or mis-assigned by the append path changes some neighbor and
    * fails the hash. */
  private val q146 = Q("q146_ann_ivf_append",
    (s, d) => {
      val emb = embeddings(s, d)
      val dir = staged("ivf_append", d) { f =>
        val half = emb.where(col("vec_id") % 2 === 0)
        val model = graft.operators.IvfIndex.train(half, "vec_id", "embedding", k = 16)
        graft.operators.IvfIndex.saveIndex(model,
          graft.operators.IvfIndex.assign(half, "vec_id", "embedding", model),
          f.getAbsolutePath)
        graft.operators.IvfIndex.appendToIndex(s, f.getAbsolutePath,
          emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding")
        // fold the append's per-cell file-sets — the oracle now gates
        // save → append → COMPACT → load → search end-to-end (compaction
        // must be invisible to results)
        graft.operators.IvfIndex.compactPostings(s, f.getAbsolutePath)
      }
      val (model, postings) =
        graft.operators.IvfIndex.loadIndex(s, dir.getAbsolutePath)
      graft.operators.IvfIndex.search(postings,
        emb.where(col("vec_id") < 10),
        "vec_id", "embedding", model, k = 5, nProbe = 16)
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        scored AS (SELECT q_id, n_id,
            list_dot_product(qv, cv) /
              (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
          FROM q CROSS JOIN c WHERE q_id <> n_id),
        r AS (SELECT q_id, n_id, cos,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored)
        SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, ROUND(cos, 6) AS cos
        FROM r WHERE rank <= 5"""))

  /** Scalar-feature distribution drift (q145's sibling for lengths/
    * scores): per-language total-variation distance between the
    * n_chars bucket distribution and a version where English docs grew
    * by +200 chars — 'en' drifts, every other language pins at exactly
    * 0. TV needs no logarithms, so the oracle reproduces the exact
    * rational numerator (decimal products of counts) and the one final
    * IEEE divide. */
  private val q147 = Q("q147_histogram_drift",
    (s, d) => {
      val a = documents(s, d).select(col("lang"), col("n_chars"))
      val b = documents(s, d).select(col("lang"),
        (col("n_chars") + when(col("lang") === "en", 200).otherwise(0))
          .as("n_chars"))
      graft.operators.TrainingData.histogramDrift(a, b, "lang", "n_chars",
        Seq(100.0, 200.0, 300.0, 400.0))
    },
    Some("""WITH da AS (SELECT lang AS label,
          (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END
           + CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
           + CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END
           + CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END) AS bucket
        FROM documents WHERE n_chars IS NOT NULL),
      db AS (SELECT lang AS label,
          (CASE WHEN v >= 100 THEN 1 ELSE 0 END
           + CASE WHEN v >= 200 THEN 1 ELSE 0 END
           + CASE WHEN v >= 300 THEN 1 ELSE 0 END
           + CASE WHEN v >= 400 THEN 1 ELSE 0 END) AS bucket
        FROM (SELECT lang,
            n_chars + CASE WHEN lang = 'en' THEN 200 ELSE 0 END AS v
          FROM documents WHERE n_chars IS NOT NULL)),
      ca AS (SELECT label, bucket, COUNT(*) AS ca FROM da GROUP BY 1, 2),
      cb AS (SELECT label, bucket, COUNT(*) AS cb FROM db GROUP BY 1, 2),
      na AS (SELECT label, COUNT(*) AS na FROM da GROUP BY 1),
      nb AS (SELECT label, COUNT(*) AS nb FROM db GROUP BY 1),
      u AS (SELECT COALESCE(ca.label, cb.label) AS label,
          COALESCE(ca.bucket, cb.bucket) AS bucket,
          COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        FROM ca FULL JOIN cb
          ON ca.label = cb.label AND ca.bucket = cb.bucket),
      g AS (SELECT u.label, na.na, nb.nb,
          SUM(ABS(CAST(ca AS DECIMAL(19,0)) * CAST(nb AS DECIMAL(19,0))
            - CAST(cb AS DECIMAL(19,0)) * CAST(na AS DECIMAL(19,0)))) AS num
        FROM u JOIN na ON u.label = na.label JOIN nb ON u.label = nb.label
        GROUP BY 1, 2, 3)
      SELECT label, na AS n_a, nb AS n_b,
        CAST(CAST(num AS DOUBLE) / (2.0 * na * nb) AS DOUBLE) AS tv_dist
      FROM g"""))

  /** Top-k frequent trigrams per language — corpus statistics through
    * the native TopKPerKey operator (bounded per-group heaps before the
    * final exchange). The oracle is the window formulation with the
    * identical (count desc, ngram) tie-break. */
  private val q148 = Q("q148_top_ngrams_per_lang",
    (s, d) => graft.operators.TrainingData.topNgramsPerGroup(
      documents(s, d), "lang", "text", ngram = 3, k = 10),
    Some("""WITH tkn AS (SELECT lang, string_split_regex(trim(text), '\s+') AS tk
          FROM documents),
      n AS (SELECT lang, unnest(list_transform(range(len(tk) - 2),
            i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS ngram
        FROM tkn WHERE len(tk) >= 3),
      c AS (SELECT lang AS label, ngram, COUNT(*) AS cnt FROM n GROUP BY 1, 2)
      SELECT label, CAST(rank AS INTEGER) AS rank, ngram, cnt FROM (
        SELECT label, ngram, cnt,
          ROW_NUMBER() OVER (PARTITION BY label
            ORDER BY cnt DESC, ngram) AS rank
        FROM c)
      WHERE rank <= 10"""))

  /** Audio peak normalization (payload→payload, all-integer): every
    * clip rescales so its peak |amplitude| is exactly 12000, then the
    * q117 feature contract reads the REWRITTEN payload — the oracle
    * recomputes every normalized sample with the same
    * `(2·|s|·target + peak) div (2·peak)` half-away arithmetic, so a
    * rounding-mode slip, a sign error, or a re-encode defect fails the
    * hash. */
  private val q149 = Q("q149_audio_normalize",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, _) =>
          val n = 160 + (id % 5).toInt * 20
          val seed = (id % 251).toInt
          val samples = Array.tabulate(n)(i =>
            (i * 7919 + seed * 13) % 4001 - 2000)
          MediaRow(id, "audio/wav",
            graft.multimodal.PcmCodec.encodeWav(1, 16000, 16, samples),
            MediaMeta("synth", None, None, None))
        }
      graft.multimodal.Multimodal.audioFeatures(
          graft.multimodal.Multimodal.normalizeAudioPeak(media, targetPeak = 12000))
        .toDF()
        .select(col("media_id"), col("n_samples"), col("peak_abs"),
          col("sum_amp"), col("sum_sq"), col("mean_amp"), col("rms"))
    },
    Some("""WITH p AS (SELECT doc_id,
          160 + (doc_id % 5) * 20 AS n,
          doc_id % 251 AS seed
        FROM documents),
      s AS (SELECT doc_id, j.range AS i,
          (j.range * 7919 + seed * 13) % 4001 - 2000 AS amp
        FROM p CROSS JOIN range(240) j WHERE j.range < n),
      pk AS (SELECT doc_id, MAX(ABS(amp)) AS peak FROM s GROUP BY 1),
      v AS (SELECT s.doc_id,
          CASE WHEN amp >= 0 THEN (2*amp*12000 + peak) // (2*peak)
            ELSE -((2*(-amp)*12000 + peak) // (2*peak)) END AS nv
        FROM s JOIN pk ON s.doc_id = pk.doc_id),
      f AS (SELECT doc_id, COUNT(*) AS ns, MAX(ABS(nv)) AS pa,
          SUM(nv) AS sa, SUM(nv*nv) AS sq
        FROM v GROUP BY 1)
      SELECT doc_id AS media_id, CAST(ns AS BIGINT) AS n_samples,
        CAST(pa AS INTEGER) AS peak_abs, CAST(sa AS BIGINT) AS sum_amp,
        CAST(sq AS BIGINT) AS sum_sq,
        CAST(CAST(sa AS DOUBLE) / ns AS DOUBLE) AS mean_amp,
        sqrt(CAST(sq AS DOUBLE) / ns) AS rms
      FROM f"""))

  /** PROGRESSIVE JPEG decode (q128's closed form through SOF2): the
    * same block-constant even-value images encode as multi-scan
    * progressive files — band splits and EOBn batching vary per doc,
    * and every third doc uses the SUCCESSIVE-APPROXIMATION two-level
    * script (DC/AC first scans at Al=1 + refinement scans) — and the
    * full multi-scan accumulation path reproduces q128's exact
    * arithmetic, so the oracle is q128's closed form verbatim. A
    * mis-ordered scan, a wrong EOB run, a dropped refinement bit, or a
    * band boundary slip changes some pixel and fails the hash. */
  private val q150 = Q("q150_jpeg_progressive",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val w = 8 * (1 + (id % 6)).toInt
          val h = 8 * (1 + (nc % 4)).toInt
          val seed = (id % 251).toInt
          val samples = Array.tabulate(w * h) { i =>
            val bx = (i % w) / 8; val by = (i / w) / 8
            2 * ((seed + 17 * bx + 29 * by) % 128)
          }
          val bands =
            if (id % 2 == 0) Seq((1, 5), (6, 63))
            else Seq((1, 2), (3, 20), (21, 63))
          val ri = (id % 4).toInt // 0 = no restart marker; else every ri MCUs
          val payload =
            if (id % 3 == 0)
              graft.multimodal.JpegCodec.encodeProgressiveSA(w, h, samples,
                bands, restartInterval = ri)
            else graft.multimodal.JpegCodec.encodeProgressive(w, h, samples,
              bands, batchEob = id % 3 == 1, restartInterval = ri)
          MediaRow(id, "image/jpeg", payload,
            MediaMeta("synth", Some(w), Some(h), None))
        }
      graft.multimodal.Multimodal.imageFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          (col("width").cast("long") * col("height")).as("n_pixels"),
          col("brightness"))
    },
    Some("""WITH p AS (SELECT doc_id,
          8 * (1 + doc_id % 6) AS w,
          8 * (1 + n_chars % 4) AS h,
          doc_id % 251 AS seed
        FROM documents),
      s AS (SELECT doc_id, w, h,
          64 * list_sum(list_transform(range(w//8 * (h//8)), b ->
            2 * ((seed + 17*(b % (w//8)) + 29*(b // (w//8))) % 128))) AS sm
        FROM p)
      SELECT doc_id AS media_id,
        CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        CAST(w*h AS BIGINT) AS n_pixels,
        CAST((sm*2000000 + w*h*255) // (2*w*h*255) AS DOUBLE)
          / 1000000.0 AS brightness
      FROM s"""))

  /** PROGRESSIVE 4:2:0 JPEG decode — the shape most real-world
    * progressive files have: q130's MCU-constant quant=1 closed form
    * through the SOF2 multi-scan path, interleaved-DC MCU geometry
    * with padded Y grids, non-interleaved AC scans per component;
    * every second doc uses the successive-approximation script. The
    * oracle is q130's closed form verbatim. */
  private val q151 = Q("q151_jpeg_progressive_420",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
      val media = documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val w = 16 * (1 + (id % 3)).toInt
          val h = 16 * (1 + (nc % 2)).toInt
          val seed = (id % 251).toInt
          val mw = w / 16
          val rgb = Array.tabulate(w * h * 3) { i =>
            val px = i / 3
            val mi = ((px / w) / 16) * mw + ((px % w) / 16)
            (i % 3) match {
              case 0 => (seed + 11 * mi) % 256
              case 1 => (3 * seed + 7 * mi) % 256
              case _ => (5 * seed + 13 * mi) % 256
            }
          }
          MediaRow(id, "image/jpeg",
            graft.multimodal.JpegCodec.encodeProgressive420(w, h, rgb,
              quant = 1, sa = id % 2 == 0,
              restartInterval = (id % 3).toInt),
            MediaMeta("synth", Some(w), Some(h), None))
        }
      graft.multimodal.Multimodal.imageFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          (col("width").cast("long") * col("height")).as("n_pixels"),
          col("brightness"))
    },
    Some("""WITH p AS (SELECT doc_id,
          16 * (1 + doc_id % 3) AS w,
          16 * (1 + n_chars % 2) AS h,
          doc_id % 251 AS seed
        FROM documents),
      blk AS (SELECT doc_id, w, h, b.range AS bi,
          (seed + 11*b.range) % 256 AS rr,
          (3*seed + 7*b.range) % 256 AS gg,
          (5*seed + 13*b.range) % 256 AS bb
        FROM p CROSS JOIN range(6) b
        WHERE b.range < w//16 * (h//16)),
      ycc AS (SELECT doc_id, w, h, bi,
          LEAST(255, GREATEST(0, ROUND(
            CAST(0.299 AS DOUBLE)*rr + CAST(0.587 AS DOUBLE)*gg
              + CAST(0.114 AS DOUBLE)*bb))) AS yc,
          LEAST(255, GREATEST(0, ROUND(
            -CAST(0.168736 AS DOUBLE)*rr - CAST(0.331264 AS DOUBLE)*gg
              + CAST(0.5 AS DOUBLE)*bb + CAST(128 AS DOUBLE)))) AS cbc,
          LEAST(255, GREATEST(0, ROUND(
            CAST(0.5 AS DOUBLE)*rr - CAST(0.418688 AS DOUBLE)*gg
              - CAST(0.081312 AS DOUBLE)*bb + CAST(128 AS DOUBLE)))) AS crc
        FROM blk),
      dec AS (SELECT doc_id, w, h,
          LEAST(255, GREATEST(0, ROUND(yc +
            CAST(1.402 AS DOUBLE)*(crc - CAST(128 AS DOUBLE))))) +
          LEAST(255, GREATEST(0, ROUND(yc -
            CAST(0.344136 AS DOUBLE)*(cbc - CAST(128 AS DOUBLE)) -
            CAST(0.714136 AS DOUBLE)*(crc - CAST(128 AS DOUBLE))))) +
          LEAST(255, GREATEST(0, ROUND(yc +
            CAST(1.772 AS DOUBLE)*(cbc - CAST(128 AS DOUBLE))))) AS pxsum
        FROM ycc),
      s AS (SELECT doc_id, w, h,
          CAST(256 * SUM(pxsum) AS BIGINT) AS sm
        FROM dec GROUP BY doc_id, w, h)
      SELECT doc_id AS media_id,
        CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        CAST(w*h AS BIGINT) AS n_pixels,
        CAST((sm*2000000 + w*h*3*255) // (2*w*h*3*255) AS DOUBLE)
          / 1000000.0 AS brightness
      FROM s"""))

  /** Fixed training corpus for q152 — chosen so the learned table has
    * no self-pair merges (bpeOracleSql's replace() oracle cannot
    * express a == b rules). The oracle's merge table is computed at
    * REGISTRY BUILD TIME by replaying the pure merge loop on word
    * counts derived from these literals in plain Scala — so the gate
    * proves the DISTRIBUTED word-count + train + persist + encode path
    * reproduces the from-first-principles computation exactly. */
  private val BpeTrainCorpus: Seq[String] = Seq(
    "the cat sat on the mat",
    "the rat sat on the cat",
    "a cat and a rat",
    "the bat and the cat sat",
    "on the mat sat a rat",
    "and the bat sat on a mat")

  private val BpeTrainedMerges: Seq[(String, String)] = {
    val counts = BpeTrainCorpus
      .flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }.toSeq
    graft.operators.TrainingData.trainBpeMergesFromCounts(counts, nMerges = 10)
  }

  /** BPE tokenizer training end-to-end, oracle-gated: the distributed
    * trainer learns merges from the fixed corpus, persists them
    * (saveBpeMerges → loadBpeMerges), and the LOADED table encodes the
    * documents corpus. The oracle replays the identical q106 encode
    * contract with the merge table derived at registry-build time from
    * the same corpus literals in pure Scala — a drift anywhere in the
    * distributed word count, the merge loop, the parquet round trip, or
    * the encoder fails the hash. */
  private val q152 = Q("q152_bpe_train_encode",
    (s, d) => {
      import s.implicits._
      val dir = staged("bpe", d) { f =>
        val corpusDf = BpeTrainCorpus.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val merges = graft.operators.TrainingData
          .trainBpeMerges(corpusDf, "text", nMerges = 10)
        graft.operators.TrainingData.saveBpeMerges(s, merges, f.getAbsolutePath)
      }
      val merges = graft.operators.TrainingData
        .loadBpeMerges(s, dir.getAbsolutePath)
      val toks = graft.functions.BpeEncode.bpeEncode(
        lower(col("text")), merges)
      documents(s, d)
        .where(length(trim(col("text"))) > 0)
        .select(col("doc_id"), toks.as("__t"))
        .select(col("doc_id"),
          size(col("__t")).cast("long").as("n_bpe_tokens"),
          md5(concat_ws(" ", col("__t"))).as("tokens_md5"))
    },
    Some(bpeOracleSql(BpeTrainedMerges)))

  /** Incremental BM25 stats growth (q146's append shape applied to
    * retrieval, round-11 verdict #5): stats are SAVED from the even
    * half of the corpus only, the odd half arrives later via
    * [[graft.operators.TextSearch.appendCorpusStats]] (one delta-sized
    * scan, additive partials appended in place — the existing stats are
    * never rewritten), and the indexed search runs against the merged
    * stats. The oracle is q116's FULL-corpus score contract verbatim —
    * a lost delta term, a double-counted df, or a stale N/TL changes a
    * score and fails the hash. */
  private val q153 = Q("q153_bm25_stats_append",
    (s, d) => {
      val dir = staged("bm25_append", d) { f =>
        graft.operators.TextSearch.saveCorpusStats(
          documents(s, d).where(col("doc_id") % 2 === 0), "doc_id", "text",
          f.getAbsolutePath)
        graft.operators.TextSearch.appendCorpusStats(
          documents(s, d).where(col("doc_id") % 2 === 1), "doc_id", "text",
          f.getAbsolutePath)
        // fold the accumulated partials — the oracle now gates
        // save → append → COMPACT → indexed-score end-to-end (summed
        // reads must be identical before/after compaction)
        graft.operators.TextSearch.compactCorpusStats(s, f.getAbsolutePath)
      }
      graft.operators.TextSearch.bm25TopKIndexed(
        documents(s, d), "doc_id", "text", dir.getAbsolutePath,
        Seq("spark", "vector", "join"), k = 20)
    },
    q116.oracle)

  /** Boilerplate removal after HTML extraction (round-11 verdict #6):
    * every document is wrapped in a page carrying the full chrome
    * taxonomy — a title fragment, a 5-link nav rail whose word count
    * PASSES the length rule (only link density kills it), a bare
    * heading, a copyright stub, and a 2-link footer — around two real
    * content blocks, one containing an inline link that must survive
    * (low density). [[graft.functions.TextExprs.htmlBlocks]] classifies
    * per block and the query joins the non-boilerplate blocks' text.
    * The oracle recomputes everything from the fixture formula (block
    * counts are structural constants; the main text is the
    * document text under a known wrapper), so a block-boundary bug, a
    * mis-counted word, a density off-by-one, or a kept nav rail all
    * hash-mismatch. */
  private val q154 = Q("q154_boilerplate_removal",
    (s, d) => {
      val idStr = col("doc_id").cast("string")
      val page = concat(
        lit("<html><head><title>t</title><style>a{color:blue}</style>" +
          "</head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
          "<a href=\"/contact\">Contact</a> <a href=\"/careers\">Careers" +
          "</a> <a href=\"/blog\">Blog</a></nav><h1>Doc "),
        idStr,
        lit("</h1><p>main content body text "), col("text"),
        lit("</p><p>Read the full spec of engine "), idStr,
        lit(" at <a href=\"/spec\">this page</a> for details</p>" +
          "<p>© 2026</p>" +
          "<footer><a href=\"/tos\">Terms</a> <a href=\"/privacy\">" +
          "Privacy</a></footer></body></html>"))
      // materialize the block array ONCE as a named column: higher-order
      // functions sit outside whole-stage codegen's subexpression
      // elimination, so referencing htmlBlocks(page) per output column
      // would re-run the whole block pipeline 5x per row
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextExprs.htmlBlocks(page).as("__b"))
        .select(col("doc_id"),
          array_join(transform(
            filter(col("__b"), b => !b.getField("is_boilerplate")),
            b => b.getField("text")), "\n").as("main_text"),
          size(col("__b")).as("n_blocks"),
          size(filter(col("__b"), b => b.getField("is_boilerplate")))
            .as("n_boiler"),
          aggregate(col("__b"), lit(0), (acc, b) =>
            acc + when(b.getField("is_boilerplate"),
              b.getField("n_words")).otherwise(0)).as("tokens_removed"))
        .withColumn("n_tokens_main",
          size(graft.functions.TextExprs.tokens(col("main_text"))))
    },
    Some("""WITH t AS (SELECT doc_id, trim(text) AS tx FROM documents)
      SELECT doc_id,
        'main content body text ' || tx || chr(10) ||
          'Read the full spec of engine ' || doc_id ||
          ' at this page for details' AS main_text,
        CAST(7 AS INTEGER) AS n_blocks,
        CAST(5 AS INTEGER) AS n_boiler,
        CAST(12 AS INTEGER) AS tokens_removed,
        CAST(16 + len(string_split_regex(tx, '\s+')) AS INTEGER)
          AS n_tokens_main
      FROM t"""))

  /** Internationalized-host URL dedup: every doc's URL appears as the
    * Unicode host (`münchen{h}`), the UPPERCASE Unicode host behind a
    * default port + trailing slash + fragment, or the pre-encoded
    * `xn--mnchen{h}-n2a` ACE host — all three must land on one
    * canonical (the ACE wire form). The expected punycode literals
    * were verified against an independent encoder (Python stdlib) and
    * the oracle recomputes the canonical from that formula, so an
    * encoder drift, a missed uppercase fold, or an ACE-input
    * double-encode all hash-mismatch. */
  private val q155 = Q("q155_idn_host_dedup",
    (s, d) => {
      val g = col("doc_id") % 50
      val v = col("doc_id") % 4
      val h = (g % 7).cast("string")
      val url = when(v === 0,
          concat(lit("https://münchen"), h, lit(".example.com/cat?x=1")))
        .when(v === 1,
          concat(lit("https://MÜNCHEN"), h,
            lit(".Example.COM:443/cat/?x=1#f")))
        .when(v === 2,
          // percent-encoded UTF-8 spelling (%C3%BC = ü, %C3%9C = Ü):
          // the r13 host-escape decode must land it in the SAME group
          concat(lit("https://m%C3%9Cnchen"), h,
            lit(".example.com/cat?x=1")))
        .otherwise(
          concat(lit("https://xn--mnchen"), h, lit("-n2a.example.com/cat?x=1")))
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.UrlExprs.canonicalizeUrl(url).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
    },
    Some("""WITH u AS (SELECT doc_id, (doc_id % 50) % 7 AS h FROM documents),
      c AS (SELECT doc_id,
          'https://xn--mnchen' || h || '-n2a.example.com/cat?x=1'
            AS canonical_url
        FROM u)
      SELECT canonical_url, MIN(doc_id) AS keeper, COUNT(*) AS n_dups
      FROM c GROUP BY canonical_url"""))

  /** robots.txt → policy verdict END-TO-END: raw robots bodies (with
    * comments, CRLF-free multi-line groups, a decoy OtherBot group, a
    * `*` group, and — on even hosts — a graftbot-specific group with a
    * wildcard+anchor rule and an empty Allow) are PARSED per RFC 9309
    * group selection and drive [[graft.operators.CrawlPolicy
    * .applyPolicy]] over the messy-URL corpus. Even hosts must use
    * ONLY the graftbot group (no star fallback: unmatched paths
    * default-allow); odd hosts fall back to `*`. The oracle recomputes
    * every verdict from the fixture formula, so a group-selection bug,
    * a comment leak, a kept empty-value rule, or a dropped wildcard
    * all hash-mismatch. */
  private val q156 = Q("q156_robots_parse_policy",
    (s, d) => {
      import s.implicits._
      val robots = (0 until 7).map { h =>
        val base =
          s"# synthetic robots for site$h\n" +
            "User-agent: OtherBot\nDisallow: /\n\n" +
            "User-agent: *\n" +
            s"Disallow: /cat\nAllow: /cat/item$h\n"
        val extra = if (h % 2 == 0)
          "\nUser-agent: graftbot\nUser-agent: auditbot\n" +
            s"Disallow: /cat/it*m${(h + 2) % 10}$$\n" +
            s"Allow: /cat/item${(h + 1) % 10}\nAllow:\n"
        else ""
        (s"site$h.example.com", base + extra)
      }.toDF("host", "body")
      val parsed = graft.operators.CrawlPolicy.rulesFromRobots(
        robots, "host", "body", agent = "graftbot")
      val docs = documents(s, d).select(col("doc_id"), messyUrl.as("url"))
      graft.operators.CrawlPolicy.applyPolicy(docs, "doc_id", "url", parsed)
        .select(col("doc_id"), col("allowed").cast("int").as("allowed"),
          col("matched_prefix"))
    },
    Some("""WITH u AS (SELECT doc_id, doc_id % 50 AS g FROM documents),
      k AS (SELECT doc_id, g % 7 AS h, g % 10 AS m FROM u)
      SELECT doc_id,
        CAST(CASE WHEN h % 2 = 0 THEN
               CASE WHEN m = (h + 2) % 10 THEN 0 ELSE 1 END
             ELSE CASE WHEN m = h THEN 1 ELSE 0 END END AS INTEGER)
          AS allowed,
        CASE WHEN h % 2 = 0 THEN
               CASE WHEN m = (h + 2) % 10 THEN '/cat/it*m' || m || '$'
                    WHEN m = (h + 1) % 10 THEN '/cat/item' || m
                    ELSE NULL END
             ELSE CASE WHEN m = h THEN '/cat/item' || m ELSE '/cat' END
        END AS matched_prefix
      FROM k"""))

  /** Control/format-char sanitization: every doc's text is wrapped in
    * the full hostile-character taxonomy — leading ZWSP, NBSP, a CRLF,
    * a soft hyphen splitting a word, a BEL control, a trailing ZWJ —
    * and [[graft.functions.TextExprs.sanitizeText]] must strip/normalize
    * exactly per contract. Every construct is RE2-compatible, so the
    * oracle builds the identical wrapper with chr() and replays the
    * identical regexp chain (q133's discipline): a missed class member,
    * a wrong replacement, or an over-eager strip (tab/LF must survive)
    * all hash-mismatch. */
  private val q157 = Q("q157_text_sanitize",
    (s, d) => {
      val wrapped = concat(lit("\u200Bz\u00A0"), col("text"),
        lit("\r\nli\tne\u00ADend\u0007tail\u200D"))
      documents(s, d).select(col("doc_id"),
          graft.functions.TextExprs.sanitizeText(wrapped).as("clean"),
          length(wrapped).as("n_before"))
        .withColumn("n_after", length(col("clean")))
    },
    Some("""WITH w AS (SELECT doc_id,
          chr(8203) || 'z' || chr(160) || text || chr(13) || chr(10) ||
          'li' || chr(9) || 'ne' || chr(173) || 'end' || chr(7) ||
          'tail' || chr(8205) AS wrapped
        FROM documents)
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(wrapped, '\r\n', chr(10), 'g'),
                '\r', chr(10), 'g'),
              '[\x{200B}\x{200C}\x{200D}\x{2060}\x{FEFF}\x{00AD}]', '', 'g'),
            '[\x{00A0}\x{202F}\x{2007}]', ' ', 'g'),
          '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}-\x{009F}]',
          '', 'g') AS clean,
        CAST(length(wrapped) AS INTEGER) AS n_before,
        CAST(length(regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(wrapped, '\r\n', chr(10), 'g'),
                '\r', chr(10), 'g'),
              '[\x{200B}\x{200C}\x{200D}\x{2060}\x{FEFF}\x{00AD}]', '', 'g'),
            '[\x{00A0}\x{202F}\x{2007}]', ' ', 'g'),
          '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}-\x{009F}]',
          '', 'g')) AS INTEGER) AS n_after
      FROM w"""))

  /** Fixed PQ codebook for the q158 gate: 8 subspaces × 16 centroids ×
    * 8 dims of exact dyadic values (n/32), so every literal is
    * bit-identical across engines. The gate pins ENCODE (per-subspace
    * argmin, first-index ties) and ADC (distance-table lookups summed
    * in subspace order) — the trained-codebook path shares every line
    * of that machinery and is spec-gated for determinism
    * (PqIndexSpec). */
  private val PqCb: Array[Array[Array[Double]]] = Array.tabulate(8, 16, 8) {
    (j, c, d) => (((j * 31 + c * 17 + d * 7) % 41) - 20) / 32.0
  }

  /** Product-quantization ADC search end-to-end: encode the embeddings
    * corpus to 8 4-bit-range codes each, search 10 unquantized queries
    * by asymmetric distance. The oracle recomputes the per-subspace
    * argmin codes (list_position of list_min — the kernel's first-
    * index tie rule), every subspace distance in the identical fold
    * order, and the (adc asc, id) top-5 — so a wrong code, a
    * transposed table lookup, or a fold-order drift all
    * hash-mismatch. */
  private val q158 = Q("q158_pq_adc_search",
    (s, d) => {
      val model = graft.operators.PqIndex.Model(PqCb)
      val emb = embeddings(s, d)
      val codes = graft.operators.PqIndex.encode(emb, "vec_id", "embedding", model)
      graft.operators.PqIndex.search(codes, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", model, kTop = 5)
    },
    Some {
      val cbLit = PqCb.map(cb => cb.map(ct => ct.mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")).mkString("[", ", ", "]")
      s"""WITH cbl AS (SELECT $cbLit AS cb),
        c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 10),
        codes AS (SELECT n_id,
            list_transform(range(8), j ->
              list_position(
                list_transform(cb[j+1], ct ->
                  list_sum(list_transform(range(8), d ->
                    (cv[j*8+d+1] - ct[d+1]) * (cv[j*8+d+1] - ct[d+1])))),
                list_min(list_transform(cb[j+1], ct ->
                  list_sum(list_transform(range(8), d ->
                    (cv[j*8+d+1] - ct[d+1]) * (cv[j*8+d+1] - ct[d+1]))))))
              - 1) AS code
          FROM c CROSS JOIN cbl),
        scored AS (SELECT q_id, n_id,
            list_sum(list_transform(range(8), j ->
              list_sum(list_transform(range(8), d ->
                (qv[j*8+d+1] - cb[j+1][code[j+1]+1][d+1]) *
                (qv[j*8+d+1] - cb[j+1][code[j+1]+1][d+1]))))) AS adc
          FROM q CROSS JOIN codes CROSS JOIN cbl
          WHERE q_id <> n_id),
        r AS (SELECT q_id, n_id, adc,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rank
          FROM scored)
        SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, ROUND(adc, 6) AS adc
        FROM r WHERE rank <= 5"""
    })

  /** IVFADC — the IVF × PQ composition (the PQ paper's production
    * shape, and the one a 100 TB corpus actually runs): IVF cells
    * prune candidates, PQ codes compress the distance arithmetic
    * inside probed cells. nProbe = all cells makes the pruning a
    * no-op, so the oracle is q158's exhaustive ADC contract VERBATIM —
    * a lost cell, a mis-joined code row, or a probe-dedup bug changes
    * some neighbor and fails the hash (q47/q146's trick applied to the
    * composition). The pruned-probe path is spec-gated (adc values
    * identical to the exhaustive scan on the survivors). */
  private val q159 = Q("q159_pq_ivf_adc",
    (s, d) => {
      val pq = graft.operators.PqIndex.Model(PqCb)
      val emb = embeddings(s, d)
      val ivf = graft.operators.IvfIndex.train(emb, "vec_id", "embedding", k = 16)
      val codes = graft.operators.PqIndex.encode(emb, "vec_id", "embedding", pq)
      val cells = graft.operators.IvfIndex.assign(emb, "vec_id", "embedding", ivf)
      graft.operators.PqIndex.searchInCells(codes, cells,
        emb.where(col("vec_id") < 10), "vec_id", "embedding",
        ivf, pq, kTop = 5, nProbe = 16)
    },
    q158.oracle)

  /** PQ shortlist → exact re-rank, gated at the identity point: with
    * the shortlist covering the corpus the re-rank IS exact brute-force
    * L2, so the oracle is the plain exhaustive top-5 by squared
    * distance — the whole shortlist plumbing (ADC ranking, id join
    * back to raw vectors, exact re-score, re-rank) must be invisible
    * or the hash breaks. Realistic-shortlist behavior (top-k of the PQ
    * shortlist only) is spec-gated in PqIndexSpec. */
  private val q160 = Q("q160_pq_rerank",
    (s, d) => {
      val pq = graft.operators.PqIndex.Model(PqCb)
      val emb = embeddings(s, d)
      val codes = graft.operators.PqIndex.encode(emb, "vec_id", "embedding", pq)
      graft.operators.PqIndex.searchRerank(codes, emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", pq,
        kTop = 5, shortlist = 1000000)
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        scored AS (SELECT q_id, n_id,
            list_sum(list_transform(range(64), i ->
              (qv[i+1] - cv[i+1]) * (qv[i+1] - cv[i+1]))) AS l2sq
          FROM q CROSS JOIN c WHERE q_id <> n_id),
        r AS (SELECT q_id, n_id, l2sq,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY l2sq, n_id) AS rank
          FROM scored)
        SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id,
          ROUND(l2sq, 6) AS l2sq
        FROM r WHERE rank <= 5"""))

  /** Persisted PQ model (q120/q121's pattern for the PQ family): the
    * codebooks are SAVED once per corpus and parquet round-tripped; the
    * query encodes and ADC-searches with the LOADED model. Doubles
    * round-trip bit-exact, so the oracle is q158's contract VERBATIM —
    * a lost centroid, a transposed (subspace, centroid) id, or any
    * load-time reshuffle changes a code or a distance and fails the
    * hash. */
  private val q161 = Q("q161_pq_persisted",
    (s, d) => {
      val dir = staged("pq", d) { f =>
        graft.operators.PqIndex.saveModel(
          graft.operators.PqIndex.Model(PqCb), f.getAbsolutePath, s)
      }
      val pq = graft.operators.PqIndex.loadModel(s, dir.getAbsolutePath)
      val emb = embeddings(s, d)
      val codes = graft.operators.PqIndex.encode(emb, "vec_id", "embedding", pq)
      graft.operators.PqIndex.search(codes, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", pq, kTop = 5)
    },
    q158.oracle)

  /** Flesch reading-ease over period-injected documents (q101's
    * sentence-boundary preprocessing): every proxy term — whitespace
    * words, `[.!?]+` sentence runs, vowel-group syllables — is a
    * regexp count the oracle replays verbatim, and the score is one
    * fixed double sequence, so a drifted regex class, a zero-sentence
    * guard miss, or a reassociated multiply all hash-mismatch. */
  private val q162 = Q("q162_flesch_readability",
    (s, d) => {
      val withSent = regexp_replace(col("text"), "((\\S+ ){4}\\S+) ", "$1. ")
      documents(s, d)
        .select(col("doc_id"), withSent.as("__t"))
        .select(col("doc_id"),
          size(filter(graft.functions.TextExprs.tokens(col("__t")),
            t => t =!= "")).as("n_words"),
          greatest(regexp_count(col("__t"), lit("[.!?]+")), lit(1))
            .as("n_sentences"),
          regexp_count(col("__t"), lit("[aeiouyAEIOUY]+")).as("n_syllables"),
          round(graft.functions.TextExprs.fleschScore(col("__t")), 6)
            .as("flesch"))
    },
    Some("""WITH w AS (SELECT doc_id,
          regexp_replace(text, '((\S+ ){4}\S+) ', '\1. ', 'g') AS t
        FROM documents),
      k AS (SELECT doc_id,
          len(list_filter(string_split_regex(trim(t), '\s+'),
            x -> x <> '')) AS n_words,
          GREATEST(len(regexp_extract_all(t, '[.!?]+')), 1) AS n_sentences,
          len(regexp_extract_all(t, '[aeiouyAEIOUY]+')) AS n_syllables
        FROM w)
      SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
        CAST(n_sentences AS INTEGER) AS n_sentences,
        CAST(n_syllables AS INTEGER) AS n_syllables,
        CASE WHEN n_words > 0 THEN
          ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) /
              CAST(n_sentences AS DOUBLE)) -
            84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
        ELSE NULL END AS flesch
      FROM k"""))

  /** Streaming crawl frontier: the documents stream's messy URLs (six
    * variants per canonical, incl. escapes, IDN-free hosts, tracking
    * params) drain through canonicalize → dropDuplicates seen-state →
    * per-host frontier counts, AvailableNow into a memory sink. Which
    * duplicate arrives first is scheduler-dependent, so the gate
    * compares the arrival-order-INVARIANT projection (host, distinct
    * canonical count) against the formula: 50 groups spread over 7
    * hosts ⇒ host 0 owns 8 frontier slots, hosts 1-6 own 7. */
  private val q163 = Q("q163_streaming_url_frontier",
    (s, d) => {
      // the staged stream carries the DISTINCT url set ONLY — a
      // frontier's input is a URL stream, not a documents table;
      // staging the text would stream megabytes the query never reads,
      // and staging every row would replay thousands of exact
      // duplicates the frontier's own state dedups anyway (the fixture
      // gates canonicalization + per-host dedup semantics, not
      // throughput — round-15 verdict Next #5: the drain fixtures were
      // ~6% of the bench for trigger machinery)
      val f = staged("stream_url", d) { dir =>
        documents(s, d).select(messyUrl.as("url")).dropDuplicates("url")
          .coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      }
      val rawSchema = ManifestRelation.readParquet(s, f.getAbsolutePath).schema
      val docs = s.readStream.schema(rawSchema).parquet(f.getAbsolutePath)
      drainToMemory(s, "graft_q163_sink", "complete") {
        graft.streaming.UrlFrontier.frontierPerHost(docs, "url")
      }
    },
    Some("""WITH u AS (SELECT DISTINCT
          'site' || ((doc_id % 50) % 7) || '.example.com' AS host,
          (doc_id % 50) AS g
        FROM documents)
      SELECT host, COUNT(*) AS n_frontier FROM u GROUP BY host"""))

  /** The EVICTING frontier (r12 missing #2): q163's seen-filter on
    * `dropDuplicatesWithinWatermark`, gated on the semantics that make
    * it a different operator — re-delivery past the horizon RE-ENTERS
    * the frontier, re-delivery inside it does not. Four staged files
    * drain as four ordered micro-batches (maxFilesPerTrigger=1, forced
    * modTimes):
    *
    *  1. every document's messy URL arrives (ts = base + group minutes)
    *     — six variants per group dedup to one frontier entry;
    *  2. a clock URL at base+100d advances the watermark past every
    *     batch-1 state's `arrival + horizon`;
    *  3. a second clock tick makes the engine EVICT those states (state
    *     cleanup runs at batch end against the already-advanced
    *     watermark — the extra tick makes the gate independent of
    *     whether lookup double-checks expiry);
    *  4. groups < 25 re-deliver their CANONICAL form at base+100d+minutes
    *     — state is gone, so each re-entry counts again; groups ≥ 25
    *     do not re-deliver and stay at one entry.
    *
    * Expected: site(g%7) hosts count 2 per g<25 and 1 per g≥25; the
    * clock host counts its 2 distinct ticks. A dedup that never evicts
    * (q163's) would under-count every g<25 host by one — hash-distinct
    * from this oracle. */
  private val q164 = Q("q164_streaming_frontier_eviction",
    (s, d) => {
      import s.implicits._
      val f = staged("stream_urlw", d) { dir =>
        val base = 1767225600L // 2026-01-01T00:00:00Z
        val far = base + 100L * 86400
        val g = col("doc_id") % 50
        // distinct (arrival, url) rows only — urls are keyed by
        // (doc_id % 50, doc_id % 6), so this is the same 300-variant
        // set the full table replays with thousands of exact
        // duplicates; the within-watermark dedup state they exercise
        // is identically exercised by one copy each (fixture trim,
        // round-15 verdict Next #5)
        val arrivals = documents(s, d).select(
          (lit(base) + g * 60 + col("doc_id") % 6).cast("timestamp")
            .as("arrival"),
          messyUrl.as("url")).dropDuplicates("arrival", "url")
        val tick = (n: Int) => Seq(
          (new java.sql.Timestamp((far + n) * 1000L),
            s"https://clock.example.com/tick$n"))
          .toDF("arrival", "url")
        val redeliver = documents(s, d).select(g.as("g")).distinct()
          .where(col("g") < 25)
          .select((lit(far) + (col("g") + 1) * 60).cast("timestamp")
            .as("arrival"),
            concat(lit("https://site"), (col("g") % 7).cast("string"),
              lit(".example.com/cat/item"), (col("g") % 10).cast("string"),
              lit("?a="), (col("g") % 3).cast("string"), lit("&b=x%2Fy"))
              .as("url"))
        val t0 = System.currentTimeMillis()
        Queries.stageStreamFile(arrivals, dir, "a_arrivals", t0)
        Queries.stageStreamFile(tick(1), dir, "b_tick1", t0 + 2000)
        Queries.stageStreamFile(tick(2), dir, "c_tick2", t0 + 4000)
        Queries.stageStreamFile(redeliver, dir, "d_redeliver", t0 + 6000)
      }
      val rawSchema = ManifestRelation.readParquet(s, f.getAbsolutePath).schema
      val urls = s.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f.getAbsolutePath)
      drainToMemory(s, "graft_q164_sink", "complete") {
        graft.streaming.UrlFrontier
          .frontierPerHostWindowed(urls, "url", "arrival", "1 hour")
      }
    },
    Some("""WITH gs AS (SELECT DISTINCT (doc_id % 50) AS g FROM documents),
        e AS (SELECT 'site' || (g % 7) || '.example.com' AS host,
            1 + CASE WHEN g < 25 THEN 1 ELSE 0 END AS n FROM gs)
      SELECT host, CAST(SUM(n) AS BIGINT) AS n_frontier FROM e GROUP BY host
      UNION ALL
      SELECT 'clock.example.com' AS host, CAST(2 AS BIGINT) AS n_frontier"""))

  /** Hybrid lexical+semantic retrieval fused by Reciprocal Rank Fusion
    * (SIGIR 2009): BM25 over document text + cosine over embeddings,
    * each list self-excluded and cut at kEach=20, fused at k0=60, top
    * 10 per probe. The probe ids live in the shared doc_id/vec_id
    * namespace, so the oracle rebuilds BOTH rankings verbatim (q119's
    * BM25 micro-unit CTE with the self row dropped; q24's normalized
    * cosine CTE) and fuses with the same rounded-decimal RRF sum —
    * any drift in either ranking, the self-exclusion, or the fusion
    * arithmetic shifts a rank and fails the hash. */
  private val q165 = Q("q165_hybrid_rrf",
    (s, d) => {
      import s.implicits._
      val probes = Seq(
        (0L, Seq("spark", "vector", "join")),
        (1L, Seq("table", "join")),
        (2L, Seq("vector", "data", "quality"))).toDF("probe", "terms")
        .join(embeddings(s, d).select(col("vec_id").as("probe"),
          col("embedding").as("pvec")), Seq("probe"))
      graft.operators.HybridSearch.hybridTopK(
        documents(s, d), "doc_id", "text",
        embeddings(s, d), "vec_id", "embedding",
        probes, "probe", "terms", "pvec",
        kTop = 10, kEach = 20, k0 = 60)
    },
    Some("""WITH base AS (SELECT doc_id AS doc,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
            t -> t <> '') AS toks
        FROM documents),
      b AS (SELECT doc, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      st AS (SELECT COUNT(*) AS n, COALESCE(SUM(dl), 0) AS tl FROM b),
      t(probe, term) AS (SELECT * FROM (VALUES
        (0, 'spark'), (0, 'vector'), (0, 'join'),
        (1, 'table'), (1, 'join'),
        (2, 'vector'), (2, 'data'), (2, 'quality'))),
      u AS (SELECT DISTINCT term FROM t),
      dfreq AS (SELECT term,
          (SELECT COUNT(*) FROM b WHERE list_contains(b.toks, u.term)) AS df
        FROM u),
      idf AS (SELECT term,
          ROUND(ln(CAST(st.n + 1 AS DOUBLE) / (dfreq.df + 0.5)), 6) AS idf
        FROM dfreq CROSS JOIN st),
      tf AS (SELECT doc, dl, term,
          CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
        FROM b CROSS JOIN u WHERE list_contains(b.toks, u.term)),
      ctb AS (SELECT t.probe, tf.doc,
          CAST(ROUND(idf.idf * ((10.0 * st.tl * tf.tf) /
              (10.0 * st.tl * tf.tf + 3.0 * st.tl + 9.0 * tf.dl * st.n)), 6)
            AS DECIMAL(18,6)) AS contrib
        FROM tf JOIN idf USING (term) JOIN t USING (term) CROSS JOIN st),
      g AS (SELECT probe, doc,
          CAST(CAST(SUM(contrib) * 1000000 AS BIGINT) AS DOUBLE)
            / 1000000.0 AS score
        FROM ctb GROUP BY probe, doc),
      lexr AS (SELECT CAST(probe AS BIGINT) AS q_id, doc AS n_id,
          ROW_NUMBER() OVER (PARTITION BY probe
            ORDER BY score DESC, doc) AS rank
        FROM g WHERE doc <> probe
        QUALIFY ROW_NUMBER() OVER (PARTITION BY probe
          ORDER BY score DESC, doc) <= 20),
      s0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id IN (0, 1, 2)),
      sq AS (SELECT q_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv
        FROM s0),
      sc0 AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      scn AS (SELECT n_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
        FROM sc0),
      ssc AS (SELECT q_id, n_id, list_dot_product(qv, cv) AS cos
        FROM scn, sq WHERE q_id <> n_id),
      semr AS (SELECT q_id, n_id,
          ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos DESC, n_id) AS rank
        FROM ssc
        QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cos DESC, n_id) <= 20),
      contrib AS (
        SELECT q_id, n_id,
          CAST(ROUND(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS ct FROM lexr
        UNION ALL
        SELECT q_id, n_id,
          CAST(ROUND(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS ct FROM semr),
      fused AS (SELECT q_id, n_id,
          CAST(CAST(SUM(ct) * 1000000 AS BIGINT) AS DOUBLE)
            / 1000000.0 AS rrf
        FROM contrib GROUP BY q_id, n_id)
      SELECT q_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY rrf DESC, n_id) AS INTEGER) AS rank,
        n_id, rrf
      FROM fused
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
        ORDER BY rrf DESC, n_id) <= 10
      ORDER BY q_id, rank"""))

  /** SemDeDup semantic dedup gated at the 1-cluster identity point
    * (the q159/q160 oracle trick): with a single unit-basis centroid
    * e0, cluster assignment is trivial, centroid-cosine degenerates to
    * the first normalized coordinate (adding e0's zeros is IEEE-exact),
    * and the greedy dominance rule is a pure NOT EXISTS the oracle
    * states directly — an example survives iff no example earlier in
    * (csim asc, id asc) order is tau-similar. The multi-cluster path
    * (real k-means cells confining the quadratic verify) is spec-gated
    * in SemDeDupSpec. */
  private val q166 = Q("q166_semantic_dedup",
    (s, d) => {
      val e0 = Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
      graft.operators.SemDeDup.dedup(
          embeddings(s, d), "vec_id", "embedding",
          graft.operators.IvfIndex.Model(Array(e0)), tau = 0.35)
        .select(col("vec_id"), col("label"))
    },
    Some("""WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
      n AS (SELECT vec_id, label,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        FROM c),
      o AS (SELECT vec_id, label, nv, nv[1] AS csim FROM n)
      SELECT vec_id, label FROM o a
      WHERE NOT EXISTS (SELECT 1 FROM o b
        WHERE (b.csim < a.csim
            OR (b.csim = a.csim AND b.vec_id < a.vec_id))
          AND list_dot_product(a.nv, b.nv) >= 0.35)"""))

  /** Mojibake repair over a four-class corpus: latin1-shaped UTF-8
    * (repairs), cp1252-shaped (repairs through the 0x80–0x9F fold),
    * structurally-invalid mojibake lookalike (untouched), genuine
    * Unicode past U+00FF (untouched — the guard). The doc text is
    * ASCII-stripped first so the injected class suffix is the ONLY
    * non-ASCII content and the oracle can state each class's expected
    * output in closed form (chr() literals, q157's discipline); the
    * md5 pins the exact repaired string. */
  private val q167 = Q("q167_fix_mojibake",
    (s, d) => {
      val base = regexp_replace(col("text"), "[^ -~]", "")
      val moji = concat(base, element_at(array(
        lit(" caf\u00C3\u00A9 voil\u00C3\u00A0"),
        lit(" it\u00E2\u20AC\u2122s\u00E2\u20AC\u00A6"),
        lit(" bad \u00C3| run"),
        lit(" sign \u2192 here")),
        (col("doc_id") % 4).cast("int") + 1))
      documents(s, d).select(col("doc_id"),
        md5(graft.functions.TextExprs.fixMojibake(moji)).as("fixed_md5"))
    },
    Some("""WITH b AS (SELECT doc_id,
          regexp_replace(text, '[^ -~]', '', 'g') AS base
        FROM documents),
      f AS (SELECT doc_id,
          CASE CAST(doc_id % 4 AS INTEGER)
            WHEN 0 THEN base || ' caf' || chr(233) || ' voil' || chr(224)
            WHEN 1 THEN base || ' it' || chr(8217) || 's' || chr(8230)
            WHEN 2 THEN base || ' bad ' || chr(195) || '| run'
            ELSE base || ' sign ' || chr(8594) || ' here' END AS fixed
        FROM b)
      SELECT doc_id, md5(fixed) AS fixed_md5 FROM f"""))

  /** Retrieval evaluation of the exact ANN run against label ground
    * truth: 20 queries' brute-force cosine top-10 scored as
    * recall/MRR/nDCG@10, where a neighbor is relevant iff it shares the
    * query's label (the synthetic corpus's cluster structure as qrels).
    * The oracle rebuilds the run (q24's CTE), the label qrels, the
    * rounded-discount DCG, the cumulative ideal prefix, and every
    * floor-protocol ratio verbatim — a drifted rank, a mis-rounded
    * discount, or a wrong ideal cut all shift a 6-decimal value. */
  private val q168 = Q("q168_retrieval_eval",
    (s, d) => {
      val emb = embeddings(s, d)
      val run = Similarity.bruteTopK(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", 10)
      val qrels = emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("label"))
        .join(emb.select(col("vec_id").as("n_id"), col("label")),
          Seq("label"))
        .where(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"))
      graft.operators.RetrievalEval.perQuery(run, qrels, k = 10)
    },
    Some("""WITH q0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < 20),
      q AS (SELECT q_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv
        FROM q0),
      c0 AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      c AS (SELECT n_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
        FROM c0),
      scored AS (SELECT q_id, n_id, list_dot_product(qv, cv) AS cos
        FROM c, q WHERE q_id <> n_id),
      runr AS (SELECT q_id, n_id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
            AS rank
        FROM scored
        QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cos DESC, n_id) <= 10),
      qrels AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id
        FROM embeddings a JOIN embeddings b ON a.label = b.label
        WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
      nrel AS (SELECT q_id, COUNT(*) AS n_rel FROM qrels GROUP BY q_id),
      hits AS (SELECT r.q_id, r.rank
        FROM runr r JOIN qrels USING (q_id, n_id)),
      perq AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS hits,
          MIN(rank) AS first,
          SUM(CAST(CAST(ROUND(1.0 / log2(rank + 1), 6) AS DECIMAL(18,6))
            * 1000000 AS BIGINT)) AS dcg
        FROM hits GROUP BY q_id),
      iv AS (SELECT r, SUM(CAST(CAST(ROUND(1.0 / log2(r + 1), 6)
            AS DECIMAL(18,6)) * 1000000 AS BIGINT))
          OVER (ORDER BY r) AS cum
        FROM range(1, 11) t(r))
      SELECT n.q_id, n.n_rel,
        COALESCE(p.hits, 0) AS hits,
        FLOOR(CAST(COALESCE(p.hits, 0) * 1000000 AS DOUBLE) * 1000000.0
          / CAST(LEAST(n.n_rel, 10) * 1000000 AS DOUBLE)) / 1000000.0
          AS recall,
        COALESCE(CAST(CAST(ROUND(1.0 / p.first, 6) AS DECIMAL(18,6))
          * 1000000 AS BIGINT), 0) / 1000000.0 AS mrr,
        COALESCE(FLOOR(CAST(p.dcg AS DOUBLE) * 1000000.0 /
          CAST((SELECT cum FROM iv
            WHERE r = LEAST(n.n_rel, 10)) AS DOUBLE)) / 1000000.0, 0.0)
          AS ndcg
      FROM nrel n LEFT JOIN perq p USING (q_id)"""))

  /** MMR diversification gated at the λ=1 identity point (the
    * q159/q166 trick): with the redundancy weight at zero the kernel's
    * score is bit-for-bit the relevance, ties resolve to the better
    * original rank, and the diversified output IS the run's top-5 —
    * the whole pipeline (id-keyed vector join, per-query fold,
    * rank-ordered candidate array, native greedy kernel, posexplode
    * re-emit) must be invisible or ranks shift. λ<1 diversity is
    * spec-gated brute-force-equal in MmrRerankSpec. */
  private val q169 = Q("q169_mmr_diversify",
    (s, d) => {
      val emb = embeddings(s, d)
      val run = Similarity.bruteTopK(emb, emb.where(col("vec_id") < 15),
        "vec_id", "embedding", 10)
      graft.operators.MmrRerank.diversify(run, emb, "vec_id", "embedding",
        "cos", lambda = 1.0, kOut = 5)
    },
    Some("""WITH q0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < 15),
      q AS (SELECT q_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv
        FROM q0),
      c0 AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      c AS (SELECT n_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
        FROM c0),
      scored AS (SELECT q_id, n_id, list_dot_product(qv, cv) AS cos
        FROM c, q WHERE q_id <> n_id),
      r AS (SELECT q_id, n_id, cos,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
            AS rank
        FROM scored)
      SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id,
        ROUND(cos, 6) AS rel
      FROM r WHERE rank <= 5"""))

  /** Snapshot diff across a synthetic second dump: every 7th doc
    * removed, every 5th survivor rewritten, every 3rd re-added under a
    * shifted id — all four statuses present with exact md5
    * fingerprints on both sides (content hashed at the scan; the text
    * column never reaches the join). */
  private val q170 = Q("q170_snapshot_diff",
    (s, d) => {
      val old = documents(s, d).select(col("doc_id"), col("text"))
      val neu = old.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(old.where(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      graft.operators.SnapshotDiff.diff(old, neu, "doc_id", "text")
    },
    Some("""WITH o AS (SELECT doc_id AS id, md5(text) AS old_fp
          FROM documents),
      n0 AS (SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 3 = 0),
      n AS (SELECT doc_id AS id, md5(text) AS new_fp FROM n0)
      SELECT COALESCE(o.id, n.id) AS id,
        CASE WHEN o.id IS NULL THEN 'added'
             WHEN n.id IS NULL THEN 'removed'
             WHEN o.old_fp = n.new_fp THEN 'unchanged'
             ELSE 'changed' END AS status,
        o.old_fp, n.new_fp
      FROM o FULL OUTER JOIN n ON o.id = n.id"""))

  /** Sitemap discovery: per doc a synthesized urlset (1–2 entries,
    * `&amp;` entities, an `sm:`-prefixed whitespace-padded loc,
    * attribute soup on the root) or a sitemapindex (2 children). The
    * oracle states the expected DISCOVERED rows in closed form from
    * the synthesis formulas — the whole parse (kind detection, entry
    * split, prefix/attribute tolerance, entity decode, trim, lastmod
    * extraction) must land exactly there. */
  private val q171 = Q("q171_sitemap_parse",
    (s, d) => {
      import graft.functions.SitemapExprs
      val h = (col("doc_id") % 7).cast("string")
      val b = (col("doc_id") % 4).cast("string")
      val mm = (lit(10) + col("doc_id") % 20).cast("string")
      val entry0 = concat(lit("<url><loc>https://site"), h,
        lit(".example.com/p/"), col("doc_id").cast("string"),
        lit("?a=1&amp;b="), b, lit("</loc><lastmod>2026-01-"), mm,
        lit("</lastmod></url>"))
      val entry1 = when(col("doc_id") % 3 =!= 0,
        concat(lit("<url><sm:loc> https://site"), h,
          lit(".example.com/p/"), col("doc_id").cast("string"),
          lit("/alt </sm:loc></url>"))).otherwise(lit(""))
      val urlset = concat(
        lit("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
        entry0, entry1, lit("</urlset>"))
      val index = concat(lit("<sitemapindex><sitemap><loc>https://site"), h,
        lit(".example.com/sitemap0.xml</loc></sitemap><sitemap><loc>"),
        lit("https://site"), h,
        lit(".example.com/sitemap1.xml</loc></sitemap></sitemapindex>"))
      val xml = when(col("doc_id") % 5 === 0, index).otherwise(urlset)
      val base = documents(s, d).select(col("doc_id"), xml.as("__xml"))
      val kind = SitemapExprs.sitemapKind(col("__xml"))
      val pages = base
        .select(col("doc_id"), kind.as("kind"),
          explode(SitemapExprs.sitemapEntries(col("__xml"))).as("e"))
        .select(col("doc_id"), col("kind"),
          col("e.loc").as("loc"), col("e.lastmod").as("lastmod"))
      val children = base
        .where(kind === "sitemapindex")
        .select(col("doc_id"), kind.as("kind"),
          explode(SitemapExprs.childSitemaps(col("__xml"))).as("loc"),
          lit(null).cast("string").as("lastmod"))
      pages.unionAll(children)
    },
    Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS h,
          CAST(doc_id % 4 AS VARCHAR) AS b,
          CAST(10 + doc_id % 20 AS VARCHAR) AS mm
        FROM documents),
      u0 AS (SELECT doc_id, 'urlset' AS kind,
          'https://site' || h || '.example.com/p/' || doc_id
            || '?a=1&b=' || b AS loc,
          '2026-01-' || mm AS lastmod
        FROM d WHERE doc_id % 5 <> 0),
      u1 AS (SELECT doc_id, 'urlset' AS kind,
          'https://site' || h || '.example.com/p/' || doc_id
            || '/alt' AS loc,
          CAST(NULL AS VARCHAR) AS lastmod
        FROM d WHERE doc_id % 5 <> 0 AND doc_id % 3 <> 0),
      ix AS (SELECT doc_id, 'sitemapindex' AS kind,
          'https://site' || h || '.example.com/sitemap' || k || '.xml' AS loc,
          CAST(NULL AS VARCHAR) AS lastmod
        FROM d CROSS JOIN range(0, 2) t(k) WHERE doc_id % 5 = 0)
      SELECT * FROM u0 UNION ALL SELECT * FROM u1
      UNION ALL SELECT * FROM ix"""))

  private val dsirCtes: String =
    """tref AS (SELECT tok AS token
          FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                FROM documents WHERE lang = 'en') WHERE tok <> ''),
      tn AS (SELECT COUNT(*) AS nn FROM tref),
      tlm AS (SELECT v.token,
          CAST(ROUND(-ln((v.c + 0.5) / (tn.nn + 0.5 * 1001)), 6)
            AS DECIMAL(18,6)) AS nll
        FROM (SELECT token, COUNT(*) AS c FROM tref GROUP BY 1
              ORDER BY c DESC, token LIMIT 1000) v CROSS JOIN tn),
      toov AS (SELECT CAST(ROUND(-ln(0.5 / (tn.nn + 0.5 * 1001)), 6)
            AS DECIMAL(18,6)) AS nll FROM tn),
      rref AS (SELECT tok AS token
          FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                FROM documents) WHERE tok <> ''),
      rn AS (SELECT COUNT(*) AS nn FROM rref),
      rlm AS (SELECT v.token,
          CAST(ROUND(-ln((v.c + 0.5) / (rn.nn + 0.5 * 1001)), 6)
            AS DECIMAL(18,6)) AS nll
        FROM (SELECT token, COUNT(*) AS c FROM rref GROUP BY 1
              ORDER BY c DESC, token LIMIT 1000) v CROSS JOIN rn),
      roov AS (SELECT CAST(ROUND(-ln(0.5 / (rn.nn + 0.5 * 1001)), 6)
            AS DECIMAL(18,6)) AS nll FROM rn),
      toks AS (SELECT doc, token
          FROM (SELECT doc_id AS doc,
                  unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
                FROM documents) WHERE token <> ''),
      j AS (SELECT t.doc, COALESCE(tlm.nll, toov.nll) AS t_nll,
              COALESCE(rlm.nll, roov.nll) AS r_nll
            FROM toks t LEFT JOIN tlm ON t.token = tlm.token
            LEFT JOIN rlm ON t.token = rlm.token
            CROSS JOIN toov CROSS JOIN roov),
      g AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST((SUM(r_nll) - SUM(t_nll)) * 1000000 AS BIGINT) AS wm
            FROM j GROUP BY doc)"""

  /** DSIR importance weights: target LM = the English slice, raw LM =
    * the whole corpus (both add-0.5 unigram LMs, vocab 1000). The
    * oracle rebuilds BOTH LMs, the shared one-scan double lookup, and
    * the exact decimal log-ratio — positive weights mark
    * English-reading documents. */
  private val q172 = Q("q172_dsir_weights",
    (s, d) => {
      val docs = documents(s, d)
      val target = graft.operators.TrainingData.trainQualityLm(
        docs.where(col("lang") === "en"), "text", vocabSize = 1000)
      val raw = graft.operators.TrainingData.trainQualityLm(
        docs, "text", vocabSize = 1000)
      graft.operators.TrainingData.dsirWeights(docs, "doc_id", "text",
        target, raw)
    },
    Some(s"WITH $dsirCtes SELECT doc, n_tokens, " +
      "CAST(wm AS DOUBLE) / 1000000.0 AS weight FROM g"))

  /** DSIR Gumbel-top-k resampling: deterministic Gumbel noise from the
    * md5 63-bit id key (q99's hash contract) added to the weight in
    * exact micros, top-100 by (key desc, doc). The oracle replays the
    * hash, the clamped uniform, both ln()s inside one rounded step, and
    * the ORDER BY — the draw is reproducible by construction. */
  private val q173 = Q("q173_dsir_resample",
    (s, d) => {
      val docs = documents(s, d)
      val target = graft.operators.TrainingData.trainQualityLm(
        docs.where(col("lang") === "en"), "text", vocabSize = 1000)
      val raw = graft.operators.TrainingData.trainQualityLm(
        docs, "text", vocabSize = 1000)
      graft.operators.TrainingData.dsirResample(docs, "doc_id", "text",
        target, raw, k = 100)
    },
    Some(s"WITH $dsirCtes, " +
      """s AS (SELECT doc, n_tokens, wm,
          CAST(CAST(('0x' || substring(md5(CAST(doc AS VARCHAR)), 1, 16))
            AS UBIGINT) % 9223372036854775808 AS BIGINT) AS skey
        FROM g),
      kk AS (SELECT doc, n_tokens, wm,
          wm + CAST(CAST(ROUND(-ln(-ln(LEAST(
              (CAST(skey AS DOUBLE) + 0.5) / 9223372036854775808.0,
              0.999999999999))), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)
            AS key
        FROM s)
      SELECT doc, n_tokens, CAST(wm AS DOUBLE) / 1000000.0 AS weight
      FROM kk ORDER BY key DESC, doc LIMIT 100"""))

  /** Host-authority PageRank over a 97-node synthetic link graph, 3
    * iterations at damping 85 — the oracle replays the ENTIRE integer
    * protocol (distinct edges, out-degrees, per-edge `rm DIV deg`
    * contributions, `(85·Σ) DIV 100` damping) as three chained CTE
    * rounds, so any drift in the arithmetic, the dangling handling, or
    * an iteration count lands as a hash mismatch. */
  private val q174 = Q("q174_pagerank",
    (s, d) => {
      val edges = documents(s, d).select(
        concat(lit("h"), (col("doc_id") % 97).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 31 + 7) % 97).cast("string"))
          .as("dst"))
      graft.operators.LinkGraph.pageRank(edges, "src", "dst", iters = 3)
    },
    Some("""WITH e AS (SELECT DISTINCT 'h' || (doc_id % 97) AS src,
          'h' || ((doc_id * 31 + 7) % 97) AS dst FROM documents),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rm FROM nodes),
      c1 AS (SELECT e.dst AS node, SUM(r0.rm // od.deg) AS s
        FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r1 AS (SELECT n.node,
          CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c1 USING (node)),
      c2 AS (SELECT e.dst AS node, SUM(r1.rm // od.deg) AS s
        FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r2 AS (SELECT n.node,
          CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c2 USING (node)),
      c3 AS (SELECT e.dst AS node, SUM(r2.rm // od.deg) AS s
        FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r3 AS (SELECT n.node,
          CAST(150000 + (85 * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c3 USING (node))
      SELECT node, CAST(rm AS DOUBLE) / 1000000.0 AS rank FROM r3"""))

  /** C4-style blocklist filter: per-doc token totals, blocklist-hit
    * counts (multiplicity, after lowercase + edge-punctuation trim),
    * and the keep verdict at maxHits=2 — the oracle replays the exact
    * tokenize → trim → IN-list → roll-up protocol. */
  private val q175 = Q("q175_blocklist_filter",
    (s, d) => graft.operators.TrainingData.blocklistFilter(
      documents(s, d), "doc_id", "text",
      blocklist = Seq("spill", "slow", "stale"), maxHits = 2),
    Some("""WITH t AS (
        SELECT doc_id AS doc,
          regexp_replace(tok, '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g') AS tok
        FROM (SELECT doc_id,
                unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
              FROM documents))
      SELECT doc,
        CAST(SUM(CASE WHEN tok <> '' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tokens,
        CAST(SUM(CASE WHEN tok IN ('spill', 'slow', 'stale') THEN 1
          ELSE 0 END) AS BIGINT) AS n_flagged,
        SUM(CASE WHEN tok IN ('spill', 'slow', 'stale') THEN 1
          ELSE 0 END) <= 2 AS keep
      FROM t GROUP BY doc ORDER BY doc"""))

  /** Head-metadata extraction (title / meta description / canonical
    * link) over a 4-variant syntax matrix — attribute order × quote
    * style rotate by doc_id, one doc in five carries no head metadata
    * at all. All four syntactic variants must extract to the SAME
    * formula value (the oracle recomputes it from the fixture, q154's
    * discipline), so a pattern that misses an attribute order, a
    * quote style, an uppercase tag, or leaks entities un-decoded
    * hash-mismatches. */
  private val q176 = Q("q176_html_metadata",
    (s, d) => {
      val idStr = col("doc_id").cast("string")
      val title = concat(lit("Engine "), idStr, lit(" &amp; Friends"))
      val desc = concat(lit("A &quot;fast&quot; engine no. "), idStr)
      val canon = concat(lit("https://ex.com/d?id="), idStr,
        lit("&amp;v=1"))
      val v = col("doc_id") % 4
      val metaTag = when(v === 0, concat(
          lit("<meta name=\"description\" content=\""), desc, lit("\">")))
        .when(v === 1, concat(
          lit("<meta name='description' content='"), desc, lit("'>")))
        .when(v === 2, concat(
          lit("<meta content=\""), desc, lit("\" name=\"description\">")))
        .otherwise(concat(
          lit("<META CONTENT='"), desc, lit("' NAME='description'>")))
      val linkTag = when(v === 0, concat(
          lit("<link rel=\"canonical\" href=\""), canon, lit("\">")))
        .when(v === 1, concat(
          lit("<link rel='canonical' href='"), canon, lit("'>")))
        .when(v === 2, concat(
          lit("<link href=\""), canon, lit("\" rel=\"canonical\">")))
        .otherwise(concat(
          lit("<LINK HREF='"), canon, lit("' REL='canonical'>")))
      val titleTag = when(v % 2 === 0,
          concat(lit("<title> "), title, lit(" </title>")))
        .otherwise(concat(lit("<TITLE lang=\"en\">"), title,
          lit("</TITLE>")))
      val page = when(col("doc_id") % 5 === 0,
          lit("<html><head></head><body><p>no head</p></body></html>"))
        .otherwise(concat(lit("<html><head>"), titleTag, metaTag,
          linkTag, lit("</head><body><p>x</p></body></html>")))
      documents(s, d).select(col("doc_id"),
        graft.functions.TextExprs.htmlTitle(page).as("title"),
        graft.functions.TextExprs.htmlMetaContent(page, "description")
          .as("meta_description"),
        graft.functions.TextExprs.htmlCanonicalUrl(page).as("canonical"))
    },
    Some("""SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN NULL
          ELSE 'Engine ' || doc_id || ' & Friends' END AS title,
        CASE WHEN doc_id % 5 = 0 THEN NULL
          ELSE 'A "fast" engine no. ' || doc_id END AS meta_description,
        CASE WHEN doc_id % 5 = 0 THEN NULL
          ELSE 'https://ex.com/d?id=' || doc_id || '&v=1' END AS canonical
      FROM documents"""))

  /** Hard-negative mining over q168's fixture (brute-cosine top-10 run,
    * label-match qrels): rank-1 skipped as the false-negative band,
    * 4 negatives per query, queries without positives silent. The
    * oracle rebuilds the run CTE verbatim and replays anti-join →
    * semi-join → per-query cut, so a leaked positive, a mined rank-1,
    * an unjudged query emitting, or a tie-order drift all
    * hash-mismatch. */
  private val q177 = Q("q177_hard_negatives",
    (s, d) => {
      val emb = embeddings(s, d)
      val run = Similarity.bruteTopK(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", 10)
      val qrels = emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("label"))
        .join(emb.select(col("vec_id").as("n_id"), col("label")),
          Seq("label"))
        .where(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"))
      graft.operators.RetrievalEval.hardNegatives(run, qrels,
        k = 4, skipTop = 1)
    },
    Some("""WITH q0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < 20),
      q AS (SELECT q_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv
        FROM q0),
      c0 AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      c AS (SELECT n_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
        FROM c0),
      scored AS (SELECT q_id, n_id, list_dot_product(qv, cv) AS cos
        FROM c, q WHERE q_id <> n_id),
      runr AS (SELECT q_id, n_id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
            AS rank
        FROM scored
        QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cos DESC, n_id) <= 10),
      qrels AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id
        FROM embeddings a JOIN embeddings b ON a.label = b.label
        WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
      cand AS (SELECT r.q_id, r.n_id, r.rank AS orig_rank
        FROM runr r
        WHERE r.rank > 1
          AND NOT EXISTS (SELECT 1 FROM qrels x
            WHERE x.q_id = r.q_id AND x.n_id = r.n_id)
          AND EXISTS (SELECT 1 FROM qrels x WHERE x.q_id = r.q_id))
      SELECT q_id, n_id, CAST(orig_rank AS INTEGER) AS orig_rank,
        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY orig_rank, n_id) AS INTEGER) AS neg_rank
      FROM cand
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
        ORDER BY orig_rank, n_id) <= 4"""))

  /** Code-point Shannon entropy + the low/prose/high banding a noise
    * screen applies — the oracle recomputes the full micro protocol
    * (per-character GROUP BY, per-term round-at-6, long-micro sum)
    * from the raw text, so a count drift, a rounding-order change, or
    * a band boundary off-by-one all hash-mismatch. */
  private val q178 = Q("q178_char_entropy",
    (s, d) => documents(s, d).select(col("doc_id"),
      graft.functions.CharEntropyExpr.charEntropy(col("text"))
        .as("entropy"))
      .withColumn("band",
        when(col("entropy") < 3.0, "low")
          .when(col("entropy") <= 5.0, "prose")
          .otherwise("high")),
    Some("""WITH ch AS (SELECT doc_id,
          unnest(regexp_split_to_array(text, '')) AS ch FROM documents),
      cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
      tot AS (SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY 1),
      e AS (SELECT cnt.doc_id,
          SUM(CAST(CAST(ROUND((c / CAST(n AS DOUBLE)) *
            log2(CAST(n AS DOUBLE) / c), 6) AS DECIMAL(18,6)) * 1000000
            AS BIGINT)) / 1000000.0 AS entropy
        FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id GROUP BY cnt.doc_id)
      SELECT doc_id, entropy,
        CASE WHEN entropy < 3.0 THEN 'low'
          WHEN entropy <= 5.0 THEN 'prose' ELSE 'high' END AS band
      FROM e"""))

  /** Supervised quality classifier, trained IN the gate (dim=8, 2
    * full-batch iterations, lrDiv=4, label = lang='en') and scored
    * over the corpus — the oracle replays the ENTIRE integer
    * protocol: hashed featurization (md5 63-bit % 8), the all-zero
    * first iteration, gradient aggregation, truncating-division
    * updates, the second iteration's hard-sigmoid margins, and final
    * scoring, all as chained CTEs. Any drift in hashing, clamping,
    * division sign semantics, or iteration count hash-mismatches. */
  private val q179 = Q("q179_quality_classifier",
    (s, d) => {
      val docs = documents(s, d).withColumn("label",
        when(col("lang") === "en", 1).otherwise(0))
      val m = graft.operators.QualityClassifier.train(docs, "doc_id",
        "text", "label", dim = 8, iters = 2, lrDiv = 4)
      graft.operators.QualityClassifier.score(docs, "doc_id", "text", m)
    },
    Some("""WITH tok AS (SELECT doc_id AS doc,
          CAST(CAST(CAST(('0x' || substring(md5(tok), 1, 16)) AS UBIGINT)
            % 9223372036854775808 AS BIGINT) % 8 AS INTEGER) AS j
        FROM (SELECT doc_id,
            unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
          FROM documents)
        WHERE tok <> ''),
      f AS (SELECT doc, j, CAST(COUNT(*) AS BIGINT) AS x
        FROM tok GROUP BY 1, 2),
      lab AS (SELECT doc_id AS doc,
          CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
        FROM documents),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab),
      e1 AS (SELECT doc, y,
          CAST(500000 - y * 1000000 AS BIGINT) AS err FROM lab),
      g1 AS (SELECT f.j, CAST(SUM(e1.err * f.x) AS BIGINT) AS g
        FROM f JOIN e1 USING (doc) GROUP BY f.j),
      w1 AS (SELECT t.j,
          CAST(0 - COALESCE(g1.g, 0) // ((SELECT n FROM n) * 4)
            AS BIGINT) AS w
        FROM range(0, 8) t(j) LEFT JOIN g1 ON g1.j = t.j),
      b1 AS (SELECT CAST(0 - CAST(SUM(err) AS BIGINT)
            // ((SELECT n FROM n) * 4) AS BIGINT) AS b FROM e1),
      m2 AS (SELECT l.doc, l.y,
          CAST((SELECT b FROM b1) + COALESCE(SUM(f.x * w1.w), 0)
            AS BIGINT) AS marg
        FROM lab l LEFT JOIN f ON f.doc = l.doc
          LEFT JOIN w1 ON w1.j = f.j
        GROUP BY l.doc, l.y),
      e2 AS (SELECT doc, y,
          CAST(LEAST(GREATEST(marg // 4 + 500000, 0), 1000000)
            - y * 1000000 AS BIGINT) AS err FROM m2),
      g2 AS (SELECT f.j, CAST(SUM(e2.err * f.x) AS BIGINT) AS g
        FROM f JOIN e2 USING (doc) GROUP BY f.j),
      w2 AS (SELECT w1.j,
          CAST(w1.w - COALESCE(g2.g, 0) // ((SELECT n FROM n) * 4)
            AS BIGINT) AS w
        FROM w1 LEFT JOIN g2 ON g2.j = w1.j),
      b2 AS (SELECT CAST((SELECT b FROM b1) - CAST(SUM(err) AS BIGINT)
            // ((SELECT n FROM n) * 4) AS BIGINT) AS b FROM e2),
      ms AS (SELECT d.doc_id AS doc,
          CAST((SELECT b FROM b2) + COALESCE(SUM(f.x * w2.w), 0)
            AS BIGINT) AS marg
        FROM documents d LEFT JOIN f ON f.doc = d.doc_id
          LEFT JOIN w2 ON w2.j = f.j
        GROUP BY d.doc_id),
      p AS (SELECT doc,
          LEAST(GREATEST(marg // 4 + 500000, 0), 1000000) AS pm FROM ms)
      SELECT doc, CAST(pm AS DOUBLE) / 1000000.0 AS score,
        pm >= 500000 AS pred FROM p"""))

  /** The crawl front door COMPOSED end to end: messy frontier URLs
    * (q138's 6-variant fixture) canonicalize and collapse, q139's rule
    * matrix filters, a partial host-authority table attaches (hosts
    * 4–6 deliberately unknown → rank 0), and the per-host politeness
    * cut keeps 2 slots per host. The oracle recomputes the surviving
    * set from the fixture formulas (canonical target, the q139 allow
    * condition, literal authority CASE, row_number cut) — so a
    * canonicalization drift, a policy regression, a lost
    * unknown-host default, or a politeness off-by-one all
    * hash-mismatch. */
  private val q180 = Q("q180_crawl_schedule",
    (s, d) => {
      import s.implicits._
      val rules = (0 until 7).flatMap { h =>
        val host = s"site$h.example.com"
        Seq((host, "/cat", false),
          (host, s"/cat/item$h", true),
          (host, s"/cat/item${(h + 1) % 10}", true),
          (host, s"/cat/item${(h + 1) % 10}", false),
          (host, s"/cat/it*m${(h + 2) % 10}$$", false),
          (host, s"/*/item${(h + 4) % 10}", true),
          (host, "/cat/ite$", true))
      }.toDF("host", "prefix", "allow")
      val auth = Seq(("site0.example.com", 0.1),
        ("site1.example.com", 0.2), ("site2.example.com", 0.3),
        ("site3.example.com", 0.4)).toDF("host", "rank")
      val cand = documents(s, d).select(messyUrl.as("url"))
      graft.operators.CrawlPolicy.prioritizedFetchList(cand, "url",
        rules, auth, perHostK = 2)
    },
    Some("""WITH u AS (SELECT DISTINCT doc_id % 50 AS g FROM documents),
      k AS (SELECT g, g % 7 AS h, g % 10 AS m, g % 3 AS a FROM u),
      c AS (SELECT 'site' || h || '.example.com' AS host,
          'https://site' || h || '.example.com/cat/item' || m ||
            '?a=' || a || '&b=x%2Fy' AS url, h, m
        FROM k),
      al AS (SELECT host, url, h FROM c
        WHERE m = h OR m = (h + 1) % 10 OR m = (h + 4) % 10),
      r AS (SELECT host, url, h,
          ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) AS slot
        FROM al)
      SELECT host, url,
        CAST(CASE h WHEN 0 THEN 0.1 WHEN 1 THEN 0.2 WHEN 2 THEN 0.3
          WHEN 3 THEN 0.4 ELSE 0.0 END AS DOUBLE) AS authority,
        CAST(slot AS INTEGER) AS slot
      FROM r WHERE slot <= 2"""))

  /** DPR-style training triples over q177's mining fixture: every
    * judged positive × the query's 3 mined negatives (skipTop=1). The
    * oracle replays the full chain — run rebuild, negative mining,
    * positive cross — so a dropped pair, a doubled positive, or a
    * leaked negative-less query all hash-mismatch. */
  private val q181 = Q("q181_training_triples",
    (s, d) => {
      val emb = embeddings(s, d)
      val run = Similarity.bruteTopK(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", 10)
      val qrels = emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("label"))
        .join(emb.select(col("vec_id").as("n_id"), col("label")),
          Seq("label"))
        .where(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"))
      graft.operators.RetrievalEval.trainingTriples(run, qrels,
        kNeg = 3, skipTop = 1)
    },
    Some("""WITH q0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < 20),
      q AS (SELECT q_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv
        FROM q0),
      c0 AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      c AS (SELECT n_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
        FROM c0),
      scored AS (SELECT q_id, n_id, list_dot_product(qv, cv) AS cos
        FROM c, q WHERE q_id <> n_id),
      runr AS (SELECT q_id, n_id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
            AS rank
        FROM scored
        QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cos DESC, n_id) <= 10),
      qrels AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id
        FROM embeddings a JOIN embeddings b ON a.label = b.label
        WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
      cand AS (SELECT r.q_id, r.n_id, r.rank AS orig_rank
        FROM runr r
        WHERE r.rank > 1
          AND NOT EXISTS (SELECT 1 FROM qrels x
            WHERE x.q_id = r.q_id AND x.n_id = r.n_id)
          AND EXISTS (SELECT 1 FROM qrels x WHERE x.q_id = r.q_id)),
      negs AS (SELECT q_id, n_id AS neg_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY orig_rank, n_id) AS INTEGER) AS neg_rank
        FROM cand
        QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY orig_rank, n_id) <= 3)
      SELECT p.q_id, p.n_id AS pos_id, negs.neg_id, negs.neg_rank
      FROM qrels p JOIN negs ON p.q_id = negs.q_id"""))

  /** PC1 of the embedding corpus by 2 FP20 power iterations, projected
    * per vector — the oracle replays the ENTIRE protocol (floor(x·2²⁰)
    * encode, truncating mean, the uniform floor(2²⁰/√dim) start, both
    * iterations' per-row scalars / DIV-2²⁰ contributions / exact long
    * sums / IEEE normalize-and-floor, final projection), so a drift in
    * any division sign, sum order dependence, or normalization op
    * order lands as a hash mismatch. */
  private val q182 = Q("q182_pca_top_component",
    (s, d) => {
      val emb = embeddings(s, d)
      val c = graft.operators.Pca.topComponent(emb, "vec_id",
        "embedding", iters = 2)
      graft.operators.Pca.project(emb, "vec_id", "embedding", c)
    },
    Some("""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
      fx AS (SELECT vec_id, j.range AS pos,
          CAST(FLOOR(v[j.range + 1] * 1048576) AS BIGINT) AS f
        FROM ev CROSS JOIN range(4096) j WHERE j.range < len(v)),
      mn AS (SELECT pos, SUM(f) AS fs, COUNT(*) AS n FROM fx GROUP BY pos),
      m AS (SELECT pos, CAST(fs // n AS BIGINT) AS mu FROM mn),
      d0 AS (SELECT COUNT(*) AS dim FROM m),
      cx AS (SELECT vec_id, fx.pos, f - mu AS c
        FROM fx JOIN m ON fx.pos = m.pos),
      w0 AS (SELECT pos,
          CAST(FLOOR(1048576 / sqrt((SELECT dim FROM d0))) AS BIGINT) AS w
        FROM m),
      s1 AS (SELECT cx.vec_id,
          CAST(SUM(cx.c * w0.w) // 1048576 AS BIGINT) AS s
        FROM cx JOIN w0 ON cx.pos = w0.pos GROUP BY cx.vec_id),
      u1 AS (SELECT cx.pos,
          CAST(SUM((cx.c * s1.s) // 1048576) AS BIGINT) AS u
        FROM cx JOIN s1 ON cx.vec_id = s1.vec_id GROUP BY cx.pos),
      nm1 AS (SELECT sqrt(CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE))
          AS norm FROM u1),
      w1 AS (SELECT pos, CAST(FLOOR(CAST(u AS DOUBLE) /
          (SELECT norm FROM nm1) * 1048576) AS BIGINT) AS w FROM u1),
      s2 AS (SELECT cx.vec_id,
          CAST(SUM(cx.c * w1.w) // 1048576 AS BIGINT) AS s
        FROM cx JOIN w1 ON cx.pos = w1.pos GROUP BY cx.vec_id),
      u2 AS (SELECT cx.pos,
          CAST(SUM((cx.c * s2.s) // 1048576) AS BIGINT) AS u
        FROM cx JOIN s2 ON cx.vec_id = s2.vec_id GROUP BY cx.pos),
      nm2 AS (SELECT sqrt(CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE))
          AS norm FROM u2),
      w2 AS (SELECT pos, CAST(FLOOR(CAST(u AS DOUBLE) /
          (SELECT norm FROM nm2) * 1048576) AS BIGINT) AS w FROM u2),
      p AS (SELECT cx.vec_id,
          CAST(SUM(cx.c * w2.w) // 1048576 AS BIGINT) AS s
        FROM cx JOIN w2 ON cx.pos = w2.pos GROUP BY cx.vec_id)
      SELECT vec_id AS id, CAST(s AS DOUBLE) / 1048576.0 AS pc1
      FROM p"""))

  /** Top-2 principal coordinates via deflation: the oracle replays
    * q182's full component-1 protocol, then the residual deflation
    * (cx − dir·(cx·dir DIV 2²⁰) DIV 2²⁰), then component 2's BOTH
    * power iterations on the residuals, then both coordinate
    * projections — any drift in deflation order, division sign, or
    * which vector pc2 projects (residual, not raw) hash-mismatches. */
  private val q183 = Q("q183_pca_two_components",
    (s, d) => {
      val emb = embeddings(s, d)
      val cs = graft.operators.Pca.topComponents(emb, "vec_id",
        "embedding", r = 2, iters = 2)
      graft.operators.Pca.projectMany(emb, "vec_id", "embedding", cs)
    },
    Some("""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
      fx AS (SELECT vec_id, j.range AS pos,
          CAST(FLOOR(v[j.range + 1] * 1048576) AS BIGINT) AS f
        FROM ev CROSS JOIN range(4096) j WHERE j.range < len(v)),
      mn AS (SELECT pos, SUM(f) AS fs, COUNT(*) AS n FROM fx GROUP BY pos),
      m AS (SELECT pos, CAST(fs // n AS BIGINT) AS mu FROM mn),
      d0 AS (SELECT COUNT(*) AS dim FROM m),
      cx AS (SELECT vec_id, fx.pos, f - mu AS c
        FROM fx JOIN m ON fx.pos = m.pos),
      w0 AS (SELECT pos,
          CAST(FLOOR(1048576 / sqrt((SELECT dim FROM d0))) AS BIGINT) AS w
        FROM m),
      s1 AS (SELECT cx.vec_id,
          CAST(SUM(cx.c * w0.w) // 1048576 AS BIGINT) AS s
        FROM cx JOIN w0 ON cx.pos = w0.pos GROUP BY cx.vec_id),
      u1 AS (SELECT cx.pos,
          CAST(SUM((cx.c * s1.s) // 1048576) AS BIGINT) AS u
        FROM cx JOIN s1 ON cx.vec_id = s1.vec_id GROUP BY cx.pos),
      nm1 AS (SELECT sqrt(CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE))
          AS norm FROM u1),
      w1 AS (SELECT pos, CAST(FLOOR(CAST(u AS DOUBLE) /
          (SELECT norm FROM nm1) * 1048576) AS BIGINT) AS w FROM u1),
      s2 AS (SELECT cx.vec_id,
          CAST(SUM(cx.c * w1.w) // 1048576 AS BIGINT) AS s
        FROM cx JOIN w1 ON cx.pos = w1.pos GROUP BY cx.vec_id),
      u2 AS (SELECT cx.pos,
          CAST(SUM((cx.c * s2.s) // 1048576) AS BIGINT) AS u
        FROM cx JOIN s2 ON cx.vec_id = s2.vec_id GROUP BY cx.pos),
      nm2 AS (SELECT sqrt(CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE))
          AS norm FROM u2),
      w2 AS (SELECT pos, CAST(FLOOR(CAST(u AS DOUBLE) /
          (SELECT norm FROM nm2) * 1048576) AS BIGINT) AS w FROM u2),
      p AS (SELECT cx.vec_id,
          CAST(SUM(cx.c * w2.w) // 1048576 AS BIGINT) AS s
        FROM cx JOIN w2 ON cx.pos = w2.pos GROUP BY cx.vec_id),
      rx AS (SELECT cx.vec_id, cx.pos,
          cx.c - (w2.w * p.s) // 1048576 AS c
        FROM cx JOIN w2 ON cx.pos = w2.pos
          JOIN p ON cx.vec_id = p.vec_id),
      t1 AS (SELECT rx.vec_id,
          CAST(SUM(rx.c * w0.w) // 1048576 AS BIGINT) AS s
        FROM rx JOIN w0 ON rx.pos = w0.pos GROUP BY rx.vec_id),
      v1 AS (SELECT rx.pos,
          CAST(SUM((rx.c * t1.s) // 1048576) AS BIGINT) AS u
        FROM rx JOIN t1 ON rx.vec_id = t1.vec_id GROUP BY rx.pos),
      bn1 AS (SELECT sqrt(CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE))
          AS norm FROM v1),
      x1 AS (SELECT pos, CAST(FLOOR(CAST(u AS DOUBLE) /
          (SELECT norm FROM bn1) * 1048576) AS BIGINT) AS w FROM v1),
      t2 AS (SELECT rx.vec_id,
          CAST(SUM(rx.c * x1.w) // 1048576 AS BIGINT) AS s
        FROM rx JOIN x1 ON rx.pos = x1.pos GROUP BY rx.vec_id),
      v2 AS (SELECT rx.pos,
          CAST(SUM((rx.c * t2.s) // 1048576) AS BIGINT) AS u
        FROM rx JOIN t2 ON rx.vec_id = t2.vec_id GROUP BY rx.pos),
      bn2 AS (SELECT sqrt(CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE))
          AS norm FROM v2),
      x2 AS (SELECT pos, CAST(FLOOR(CAST(u AS DOUBLE) /
          (SELECT norm FROM bn2) * 1048576) AS BIGINT) AS w FROM v2),
      p2 AS (SELECT rx.vec_id,
          CAST(SUM(rx.c * x2.w) // 1048576 AS BIGINT) AS s
        FROM rx JOIN x2 ON rx.pos = x2.pos GROUP BY rx.vec_id)
      SELECT p.vec_id AS id, CAST(p.s AS DOUBLE) / 1048576.0 AS pc1,
        CAST(p2.s AS DOUBLE) / 1048576.0 AS pc2
      FROM p JOIN p2 ON p.vec_id = p2.vec_id"""))

  /** Exact ROC-AUC of a length-based scorer against the lang='en'
    * label: score = min(n_chars·500, 10⁶)/10⁶ (clamping manufactures
    * heavy ties at 1.0, exercising the tie-aware half-credit path).
    * The oracle replays the histogram rank form — per-distinct-score
    * label counts, cumulative negatives strictly below, u2 =
    * Σ p·(2·nb + q) as an exact integer — so a drift in tie handling,
    * strictness of "below", or the final division hash-mismatches. */
  private val q184 = Q("q184_roc_auc",
    (s, d) => {
      val scored = documents(s, d).select(
        when(col("lang") === "en", 1L).otherwise(0L).as("label"),
        (least(col("n_chars") * 500, lit(1000000L)).cast("double") /
          1000000.0).as("score"))
      graft.operators.ClassifierEval.rocAuc(scored, "label", "score")
    },
    Some("""WITH sc AS (SELECT
          CAST(LEAST(n_chars * 500, 1000000) AS DOUBLE) / 1000000.0
            AS score,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
      h AS (SELECT score, CAST(SUM(y) AS BIGINT) AS p,
          CAST(SUM(1 - y) AS BIGINT) AS q FROM sc GROUP BY score),
      c AS (SELECT score, p, q,
          CAST(COALESCE(SUM(q) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS nb
        FROM h)
      SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
        CAST(SUM(q) AS BIGINT) AS n_neg,
        CAST(SUM(p * (2 * nb + q)) AS BIGINT) AS u2,
        CAST(SUM(p * (2 * nb + q)) AS DOUBLE) /
          (CAST(SUM(p) AS DOUBLE) * CAST(SUM(q) AS DOUBLE) * 2.0) AS auc
      FROM c"""))

  /** Reliability bins (10) for the same scorer/label pair: per
    * occupied bin the doc count, positive count, truncating-division
    * exact average confidence, positive fraction, and |gap| — the
    * per-bin ECE contribution. The oracle replays binning (floor,
    * top-edge clamp), the micros reconstruction floor(s·10⁶+½), and
    * both derived doubles. */
  private val q185 = Q("q185_calibration_bins",
    (s, d) => {
      val scored = documents(s, d).select(
        when(col("lang") === "en", 1L).otherwise(0L).as("label"),
        (least(col("n_chars") * 500, lit(1000000L)).cast("double") /
          1000000.0).as("score"))
      graft.operators.ClassifierEval.calibrationBins(
        scored, "label", "score", bins = 10)
    },
    Some("""WITH sc AS (SELECT
          CAST(LEAST(n_chars * 500, 1000000) AS DOUBLE) / 1000000.0
            AS score,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
      b AS (SELECT LEAST(9, CAST(FLOOR(score * 10) AS BIGINT)) AS bin,
          y, CAST(FLOOR(score * 1000000.0 + 0.5) AS BIGINT) AS sm
        FROM sc),
      g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(y) AS BIGINT) AS n_pos,
          CAST(SUM(sm) AS BIGINT) AS smsum
        FROM b GROUP BY bin)
      SELECT bin, n, n_pos,
        CAST(smsum // n AS DOUBLE) / 1000000.0 AS avg_conf,
        CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
        ABS(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) -
          CAST(smsum // n AS DOUBLE) / 1000000.0) AS gap
      FROM g"""))

  /** HITS hubs/authorities over q174's 97-node link graph, 2
    * iterations — the oracle replays the ENTIRE integer protocol
    * (distinct edges, hub-start 10⁶, exact long sums, the L∞ ceiling
    * rescale max(1, ⌈max/10⁶⌉) by truncating division, the
    * authority-then-hub half-step order) as four chained CTE rounds,
    * so a drift in rescale arithmetic, half-step order, or the
    * missing-node zero default lands as a hash mismatch. */
  private val q186 = Q("q186_hits",
    (s, d) => {
      val edges = documents(s, d).select(
        concat(lit("h"), (col("doc_id") % 97).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 31 + 7) % 97).cast("string"))
          .as("dst"))
      graft.operators.LinkGraph.hits(edges, "src", "dst", iters = 2)
    },
    Some("""WITH e AS (SELECT DISTINCT 'h' || (doc_id % 97) AS src,
          'h' || ((doc_id * 31 + 7) % 97) AS dst FROM documents),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hm FROM nodes),
      ar1 AS (SELECT e.dst AS node, CAST(SUM(h0.hm) AS BIGINT) AS raw
        FROM e JOIN h0 ON e.src = h0.node GROUP BY e.dst),
      ad1 AS (SELECT GREATEST(1, (MAX(raw) + 999999) // 1000000) AS den
        FROM ar1),
      a1 AS (SELECT n.node,
          CAST(COALESCE(ar1.raw, 0) // (SELECT den FROM ad1) AS BIGINT)
            AS am
        FROM nodes n LEFT JOIN ar1 USING (node)),
      hr1 AS (SELECT e.src AS node, CAST(SUM(a1.am) AS BIGINT) AS raw
        FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
      hd1 AS (SELECT GREATEST(1, (MAX(raw) + 999999) // 1000000) AS den
        FROM hr1),
      h1 AS (SELECT n.node,
          CAST(COALESCE(hr1.raw, 0) // (SELECT den FROM hd1) AS BIGINT)
            AS hm
        FROM nodes n LEFT JOIN hr1 USING (node)),
      ar2 AS (SELECT e.dst AS node, CAST(SUM(h1.hm) AS BIGINT) AS raw
        FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
      ad2 AS (SELECT GREATEST(1, (MAX(raw) + 999999) // 1000000) AS den
        FROM ar2),
      a2 AS (SELECT n.node,
          CAST(COALESCE(ar2.raw, 0) // (SELECT den FROM ad2) AS BIGINT)
            AS am
        FROM nodes n LEFT JOIN ar2 USING (node)),
      hr2 AS (SELECT e.src AS node, CAST(SUM(a2.am) AS BIGINT) AS raw
        FROM e JOIN a2 ON e.dst = a2.node GROUP BY e.src),
      hd2 AS (SELECT GREATEST(1, (MAX(raw) + 999999) // 1000000) AS den
        FROM hr2),
      h2 AS (SELECT n.node,
          CAST(COALESCE(hr2.raw, 0) // (SELECT den FROM hd2) AS BIGINT)
            AS hm
        FROM nodes n LEFT JOIN hr2 USING (node))
      SELECT h2.node, CAST(h2.hm AS DOUBLE) / 1000000.0 AS hub,
        CAST(a2.am AS DOUBLE) / 1000000.0 AS authority
      FROM h2 JOIN a2 ON h2.node = a2.node"""))

  /** Exact phrase occurrences of "value table" per document — the
    * oracle replays the anchor-vote protocol itself (positional
    * token stream, per-slot votes pos−i carrying bit 1<<i, the
    * (doc, anchor) bit_or, the full-mask filter, the per-doc count),
    * so a positions-shift (e.g. filtering empties before numbering),
    * an off-by-one in anchors, or lost overlap handling lands as a
    * hash mismatch. */
  private val q187 = Q("q187_phrase_search",
    (s, d) => graft.operators.TextSearch.phraseMatches(
      documents(s, d), "doc_id", "text", Seq("value", "table")),
    Some("""WITH arr AS (SELECT doc_id,
          regexp_split_to_array(trim(lower(text)), '\s+') AS a
        FROM documents),
      pt AS (SELECT doc_id, j.range AS pos, a[j.range + 1] AS tok
        FROM arr CROSS JOIN range(128) j WHERE j.range < len(a)),
      v AS (
        SELECT doc_id, pos AS anchor, 1 AS bit FROM pt
          WHERE tok = 'value'
        UNION ALL
        SELECT doc_id, pos - 1 AS anchor, 2 AS bit FROM pt
          WHERE tok = 'table'),
      g AS (SELECT doc_id, anchor, BIT_OR(bit) AS bits FROM v
        WHERE anchor >= 0 GROUP BY doc_id, anchor)
      SELECT doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_matches
      FROM g WHERE bits = 3 GROUP BY doc_id"""))

  /** Per-node triangle counts + clustering coefficient over a
    * two-generator 97-node graph (the second generator manufactures
    * triangles; most nodes have zero — exercising the left-join zero
    * default). The oracle enumerates each triangle once by PLAIN
    * string order u<v<w — provably the same triangle set the
    * operator's degree-ordered enumeration produces (both enumerate
    * every distinct triangle of the deduped undirected graph exactly
    * once; ordering only changes which copy generates it), so
    * per-node counts, degrees, and the clustering division must
    * hash-match. */
  private val q188 = Q("q188_triangles",
    (s, d) => {
      val docs = documents(s, d)
      def gen(m: Int, a: Int, b: Int) = docs.select(
        concat(lit("h"), (col("doc_id") % m).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * a + b) % m).cast("string"))
          .as("dst"))
      graft.operators.LinkGraph.triangles(
        gen(97, 31, 7).unionAll(gen(97, 17, 3)), "src", "dst")
    },
    Some("""WITH e0 AS (
        SELECT 'h' || (doc_id % 97) AS s,
          'h' || ((doc_id * 31 + 7) % 97) AS t FROM documents
        UNION ALL
        SELECT 'h' || (doc_id % 97),
          'h' || ((doc_id * 17 + 3) % 97) FROM documents),
      und AS (SELECT DISTINCT LEAST(s, t) AS u, GREATEST(s, t) AS v
        FROM e0 WHERE s <> t),
      deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM
          (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        GROUP BY node),
      tri AS (SELECT a.u AS x, a.v AS y, b.v AS z FROM und a
        JOIN und b ON a.u = b.u AND a.v < b.v
        JOIN und c ON c.u = a.v AND c.v = b.v),
      pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM
          (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
        GROUP BY node)
      SELECT deg.node, deg.d AS degree,
        CAST(COALESCE(pn.t, 0) AS BIGINT) AS n_triangles,
        CASE WHEN deg.d < 2 THEN 0.0
          ELSE CAST(COALESCE(pn.t, 0) AS DOUBLE) * 2.0 /
            (CAST(deg.d AS DOUBLE) * (CAST(deg.d AS DOUBLE) - 1.0))
        END AS clustering
      FROM deg LEFT JOIN pn ON deg.node = pn.node"""))

  /** Variance explained by the two q183 components: the oracle
    * replays the full two-component training chain, then the exact
    * HUGEINT sums of squares (total centered, per-coordinate) and the
    * double casts/division — so a drift in which vector each ss
    * measures (residual coordinates, not raw), the exact-sum
    * protocol, or the ratio arithmetic hash-mismatches. */
  private val q189 = Q("q189_pca_variance_explained",
    (s, d) => {
      val emb = embeddings(s, d)
      val cs = graft.operators.Pca.topComponents(emb, "vec_id",
        "embedding", r = 2, iters = 2)
      graft.operators.Pca.varianceExplained(emb, "vec_id",
        "embedding", cs)
    },
    Some("""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
      fx AS (SELECT vec_id, j.range AS pos,
          CAST(FLOOR(v[j.range + 1] * 1048576) AS BIGINT) AS f
        FROM ev CROSS JOIN range(4096) j WHERE j.range < len(v)),
      mn AS (SELECT pos, SUM(f) AS fs, COUNT(*) AS n FROM fx GROUP BY pos),
      m AS (SELECT pos, CAST(fs // n AS BIGINT) AS mu FROM mn),
      d0 AS (SELECT COUNT(*) AS dim FROM m),
      cx AS (SELECT vec_id, fx.pos, f - mu AS c
        FROM fx JOIN m ON fx.pos = m.pos),
      w0 AS (SELECT pos,
          CAST(FLOOR(1048576 / sqrt((SELECT dim FROM d0))) AS BIGINT) AS w
        FROM m),
      s1 AS (SELECT cx.vec_id,
          CAST(SUM(cx.c * w0.w) // 1048576 AS BIGINT) AS s
        FROM cx JOIN w0 ON cx.pos = w0.pos GROUP BY cx.vec_id),
      u1 AS (SELECT cx.pos,
          CAST(SUM((cx.c * s1.s) // 1048576) AS BIGINT) AS u
        FROM cx JOIN s1 ON cx.vec_id = s1.vec_id GROUP BY cx.pos),
      nm1 AS (SELECT sqrt(CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE))
          AS norm FROM u1),
      w1 AS (SELECT pos, CAST(FLOOR(CAST(u AS DOUBLE) /
          (SELECT norm FROM nm1) * 1048576) AS BIGINT) AS w FROM u1),
      s2 AS (SELECT cx.vec_id,
          CAST(SUM(cx.c * w1.w) // 1048576 AS BIGINT) AS s
        FROM cx JOIN w1 ON cx.pos = w1.pos GROUP BY cx.vec_id),
      u2 AS (SELECT cx.pos,
          CAST(SUM((cx.c * s2.s) // 1048576) AS BIGINT) AS u
        FROM cx JOIN s2 ON cx.vec_id = s2.vec_id GROUP BY cx.pos),
      nm2 AS (SELECT sqrt(CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE))
          AS norm FROM u2),
      w2 AS (SELECT pos, CAST(FLOOR(CAST(u AS DOUBLE) /
          (SELECT norm FROM nm2) * 1048576) AS BIGINT) AS w FROM u2),
      p AS (SELECT cx.vec_id,
          CAST(SUM(cx.c * w2.w) // 1048576 AS BIGINT) AS s
        FROM cx JOIN w2 ON cx.pos = w2.pos GROUP BY cx.vec_id),
      rx AS (SELECT cx.vec_id, cx.pos,
          cx.c - (w2.w * p.s) // 1048576 AS c
        FROM cx JOIN w2 ON cx.pos = w2.pos
          JOIN p ON cx.vec_id = p.vec_id),
      t1 AS (SELECT rx.vec_id,
          CAST(SUM(rx.c * w0.w) // 1048576 AS BIGINT) AS s
        FROM rx JOIN w0 ON rx.pos = w0.pos GROUP BY rx.vec_id),
      v1 AS (SELECT rx.pos,
          CAST(SUM((rx.c * t1.s) // 1048576) AS BIGINT) AS u
        FROM rx JOIN t1 ON rx.vec_id = t1.vec_id GROUP BY rx.pos),
      bn1 AS (SELECT sqrt(CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE))
          AS norm FROM v1),
      x1 AS (SELECT pos, CAST(FLOOR(CAST(u AS DOUBLE) /
          (SELECT norm FROM bn1) * 1048576) AS BIGINT) AS w FROM v1),
      t2 AS (SELECT rx.vec_id,
          CAST(SUM(rx.c * x1.w) // 1048576 AS BIGINT) AS s
        FROM rx JOIN x1 ON rx.pos = x1.pos GROUP BY rx.vec_id),
      v2 AS (SELECT rx.pos,
          CAST(SUM((rx.c * t2.s) // 1048576) AS BIGINT) AS u
        FROM rx JOIN t2 ON rx.vec_id = t2.vec_id GROUP BY rx.pos),
      bn2 AS (SELECT sqrt(CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE))
          AS norm FROM v2),
      x2 AS (SELECT pos, CAST(FLOOR(CAST(u AS DOUBLE) /
          (SELECT norm FROM bn2) * 1048576) AS BIGINT) AS w FROM v2),
      p2 AS (SELECT rx.vec_id,
          CAST(SUM(rx.c * x2.w) // 1048576 AS BIGINT) AS s
        FROM rx JOIN x2 ON rx.pos = x2.pos GROUP BY rx.vec_id),
      sst AS (SELECT SUM(CAST(c AS HUGEINT) * c) AS v FROM cx),
      ssa AS (SELECT SUM(CAST(s AS HUGEINT) * s) AS v FROM p),
      ssb AS (SELECT SUM(CAST(s AS HUGEINT) * s) AS v FROM p2)
      SELECT 1 AS component, CAST((SELECT v FROM ssa) AS DOUBLE) AS ss,
        CAST((SELECT v FROM ssa) AS DOUBLE) /
          CAST((SELECT v FROM sst) AS DOUBLE) AS ratio
      UNION ALL
      SELECT 2, CAST((SELECT v FROM ssb) AS DOUBLE),
        CAST((SELECT v FROM ssb) AS DOUBLE) /
          CAST((SELECT v FROM sst) AS DOUBLE)"""))

  /** Unicode script profile over a mixed-script fixture (Cyrillic /
    * CJK / Greek runs of doc_id-dependent length appended to the
    * Latin base, long enough to FLIP dominance on many docs) — the
    * oracle replays the per-block counts (byte-identical RE2/Java
    * character classes), the packed argmax count·16+(15−idx) with its
    * earlier-script tie-break, and the fraction division, so a range
    * drift, a tie-break flip, or a zero-scripted mishandling
    * hash-mismatches. */
  private val q190 = Q("q190_script_profile",
    (s, d) => {
      val fix = documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" "),
          when(col("doc_id") % 4 === 0,
            expr("repeat('ж', CAST(doc_id % 400 AS INT))"))
            .when(col("doc_id") % 4 === 1,
              expr("repeat('汉', CAST(doc_id % 400 AS INT))"))
            .when(col("doc_id") % 4 === 2,
              expr("repeat('α', CAST(doc_id % 400 AS INT))"))
            .otherwise(lit(""))).as("text"))
      graft.operators.ScriptProfile.profile(fix, "doc_id", "text")
    },
    Some("""WITH fx AS (SELECT doc_id, text || ' ' ||
          CASE WHEN doc_id % 4 = 0
              THEN repeat('ж', CAST(doc_id % 400 AS INT))
            WHEN doc_id % 4 = 1
              THEN repeat('汉', CAST(doc_id % 400 AS INT))
            WHEN doc_id % 4 = 2
              THEN repeat('α', CAST(doc_id % 400 AS INT))
            ELSE '' END AS t
        FROM documents),
      c AS (SELECT doc_id AS doc,
          CAST(len(regexp_extract_all(t,
            '[A-Za-z\x{00C0}-\x{024F}]')) AS BIGINT) AS latin,
          CAST(len(regexp_extract_all(t,
            '[\x{0400}-\x{04FF}]')) AS BIGINT) AS cyrillic,
          CAST(len(regexp_extract_all(t,
            '[\x{0370}-\x{03FF}]')) AS BIGINT) AS greek,
          CAST(len(regexp_extract_all(t,
            '[\x{0600}-\x{06FF}]')) AS BIGINT) AS arabic,
          CAST(len(regexp_extract_all(t,
            '[\x{0590}-\x{05FF}]')) AS BIGINT) AS hebrew,
          CAST(len(regexp_extract_all(t,
            '[\x{0900}-\x{097F}]')) AS BIGINT) AS devanagari,
          CAST(len(regexp_extract_all(t,
            '[\x{4E00}-\x{9FFF}]')) AS BIGINT) AS cjk,
          CAST(len(regexp_extract_all(t,
            '[\x{AC00}-\x{D7AF}]')) AS BIGINT) AS hangul,
          CAST(len(regexp_extract_all(t,
            '[\x{3040}-\x{30FF}]')) AS BIGINT) AS kana
        FROM fx),
      g AS (SELECT *, latin + cyrillic + greek + arabic + hebrew +
          devanagari + cjk + hangul + kana AS n_scripted,
          GREATEST(latin * 16 + 15, cyrillic * 16 + 14,
            greek * 16 + 13, arabic * 16 + 12, hebrew * 16 + 11,
            devanagari * 16 + 10, cjk * 16 + 9, hangul * 16 + 8,
            kana * 16 + 7) AS gg
        FROM c)
      SELECT doc, latin, cyrillic, greek, arabic, hebrew, devanagari,
        cjk, hangul, kana, n_scripted,
        CASE WHEN n_scripted = 0 THEN 'none'
          WHEN 15 - (gg % 16) = 0 THEN 'latin'
          WHEN 15 - (gg % 16) = 1 THEN 'cyrillic'
          WHEN 15 - (gg % 16) = 2 THEN 'greek'
          WHEN 15 - (gg % 16) = 3 THEN 'arabic'
          WHEN 15 - (gg % 16) = 4 THEN 'hebrew'
          WHEN 15 - (gg % 16) = 5 THEN 'devanagari'
          WHEN 15 - (gg % 16) = 6 THEN 'cjk'
          WHEN 15 - (gg % 16) = 7 THEN 'hangul'
          ELSE 'kana' END AS dominant,
        CASE WHEN n_scripted = 0 THEN 0.0
          ELSE CAST(gg // 16 AS DOUBLE) / CAST(n_scripted AS DOUBLE)
        END AS fraction
      FROM g"""))

  /** Exact p25/p50/p95 document length per source — the oracle
    * replays the histogram → per-key cumulative → rank
    * (q·n+999) DIV 1000 → smallest-value-reaching-rank protocol, so
    * an off-by-one in the ceiling rank, a type-1/type-7 quantile
    * drift, or cumulative-window frame change hash-mismatches. */
  private val q191 = Q("q191_quantiles_by_key",
    (s, d) => graft.operators.TrainingData.quantilesByKey(
      documents(s, d), "source", "n_chars", Seq(250, 500, 950)),
    Some("""WITH h AS (SELECT source AS key, n_chars AS v,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM documents
        WHERE source IS NOT NULL AND n_chars IS NOT NULL
        GROUP BY 1, 2),
      cw AS (SELECT key, v, c,
          SUM(c) OVER (PARTITION BY key ORDER BY v) AS cum,
          SUM(c) OVER (PARTITION BY key) AS n FROM h),
      e AS (SELECT key, v, cum, n, q
        FROM cw CROSS JOIN (VALUES (250), (500), (950)) t(q))
      SELECT key, CAST(q AS BIGINT) AS q_permille,
        CAST(MAX(n) AS BIGINT) AS n, CAST(MIN(v) AS BIGINT) AS value
      FROM e WHERE cum >= (q * n + 999) // 1000
      GROUP BY key, q"""))

  /** Three fixed k-core peel rounds at k=4 over the q188 graph — the
    * peel is STILL IN PROGRESS after round 3 (the fixture loses edges
    * every round: 176→144→78), so the oracle's three unrolled
    * degree→filter→semi-join rounds pin the exact bulk-synchronous
    * semantics (degrees recomputed from the SURVIVING subgraph each
    * round, both endpoints required alive), not just the fixpoint. */
  private val q192 = Q("q192_kcore_peel",
    (s, d) => {
      val docs = documents(s, d)
      def gen(m: Int, a: Int, b: Int) = docs.select(
        concat(lit("h"), (col("doc_id") % m).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * a + b) % m).cast("string"))
          .as("dst"))
      graft.operators.LinkGraph.kCorePeel(
        gen(97, 31, 7).unionAll(gen(97, 17, 3)), "src", "dst",
        k = 4, rounds = 3)
    },
    Some("""WITH e0 AS (
        SELECT 'h' || (doc_id % 97) AS s,
          'h' || ((doc_id * 31 + 7) % 97) AS t FROM documents
        UNION ALL
        SELECT 'h' || (doc_id % 97),
          'h' || ((doc_id * 17 + 3) % 97) FROM documents),
      u0 AS (SELECT DISTINCT LEAST(s, t) AS u, GREATEST(s, t) AS v
        FROM e0 WHERE s <> t),
      d1 AS (SELECT node, COUNT(*) AS d FROM
          (SELECT u AS node FROM u0 UNION ALL SELECT v FROM u0)
        GROUP BY node),
      a1 AS (SELECT node FROM d1 WHERE d >= 4),
      u1 AS (SELECT u0.u, u0.v FROM u0
        JOIN a1 x ON u0.u = x.node JOIN a1 y ON u0.v = y.node),
      d2 AS (SELECT node, COUNT(*) AS d FROM
          (SELECT u AS node FROM u1 UNION ALL SELECT v FROM u1)
        GROUP BY node),
      a2 AS (SELECT node FROM d2 WHERE d >= 4),
      u2 AS (SELECT u1.u, u1.v FROM u1
        JOIN a2 x ON u1.u = x.node JOIN a2 y ON u1.v = y.node),
      d3 AS (SELECT node, COUNT(*) AS d FROM
          (SELECT u AS node FROM u2 UNION ALL SELECT v FROM u2)
        GROUP BY node),
      a3 AS (SELECT node FROM d3 WHERE d >= 4),
      u3 AS (SELECT u2.u, u2.v FROM u2
        JOIN a3 x ON u2.u = x.node JOIN a3 y ON u2.v = y.node)
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
        (SELECT u AS node FROM u3 UNION ALL SELECT v FROM u3)
      GROUP BY node"""))

  /** Two deterministic label-propagation rounds over the q188 graph —
    * the oracle unrolls both bulk-synchronous rounds (neighbor vote
    * counts from BOTH edge directions, per-node max count, argmax-tie
    * filter, MIN-label tie-break), so an async-update drift, a lost
    * direction, or a nondeterministic max_by-style tie lands as a
    * hash mismatch. */
  private val q193 = Q("q193_label_propagation",
    (s, d) => {
      val docs = documents(s, d)
      def gen(m: Int, a: Int, b: Int) = docs.select(
        concat(lit("h"), (col("doc_id") % m).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * a + b) % m).cast("string"))
          .as("dst"))
      graft.operators.LinkGraph.labelPropagation(
        gen(97, 31, 7).unionAll(gen(97, 17, 3)), "src", "dst",
        iters = 2)
    },
    Some("""WITH e0 AS (
        SELECT 'h' || (doc_id % 97) AS s,
          'h' || ((doc_id * 31 + 7) % 97) AS t FROM documents
        UNION ALL
        SELECT 'h' || (doc_id % 97),
          'h' || ((doc_id * 17 + 3) % 97) FROM documents),
      u0 AS (SELECT DISTINCT LEAST(s, t) AS u, GREATEST(s, t) AS v
        FROM e0 WHERE s <> t),
      n AS (SELECT u AS node FROM u0 UNION SELECT v FROM u0),
      l0 AS (SELECT node, node AS label FROM n),
      v1 AS (SELECT x.node, x.label, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT u0.v AS node, l0.label
            FROM u0 JOIN l0 ON u0.u = l0.node
          UNION ALL
          SELECT u0.u, l0.label FROM u0 JOIN l0 ON u0.v = l0.node) x
        GROUP BY 1, 2),
      m1 AS (SELECT node, MAX(c) AS m FROM v1 GROUP BY node),
      l1 AS (SELECT v1.node, MIN(v1.label) AS label FROM v1
        JOIN m1 ON v1.node = m1.node AND v1.c = m1.m GROUP BY v1.node),
      v2 AS (SELECT x.node, x.label, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT u0.v AS node, l1.label
            FROM u0 JOIN l1 ON u0.u = l1.node
          UNION ALL
          SELECT u0.u, l1.label FROM u0 JOIN l1 ON u0.v = l1.node) x
        GROUP BY 1, 2),
      m2 AS (SELECT node, MAX(c) AS m FROM v2 GROUP BY node),
      l2 AS (SELECT v2.node, MIN(v2.label) AS label FROM v2
        JOIN m2 ON v2.node = m2.node AND v2.c = m2.m GROUP BY v2.node)
      SELECT node, label AS community FROM l2"""))

  /** Personalized PageRank from seeds {h0,h1,h2}, 3 iterations at
    * damping 85 over q174's functional graph — the oracle replays the
    * seed-restricted protocol (seed-only 10⁶ start, seed-only
    * teleport base, the same DIV arithmetic as q174), so mass leaking
    * to non-seed teleports, a wrong start vector, or global-PageRank
    * semantics sneaking back land as a hash mismatch. */
  private val q194 = Q("q194_personalized_pagerank",
    (s, d) => {
      val edges = documents(s, d).select(
        concat(lit("h"), (col("doc_id") % 97).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 31 + 7) % 97).cast("string"))
          .as("dst"))
      graft.operators.LinkGraph.personalizedPageRank(
        edges, "src", "dst", Seq("h0", "h1", "h2"), iters = 3)
    },
    Some("""WITH e AS (SELECT DISTINCT 'h' || (doc_id % 97) AS src,
          'h' || ((doc_id * 31 + 7) % 97) AS dst FROM documents),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(CASE WHEN node IN ('h0', 'h1', 'h2')
          THEN 1000000 ELSE 0 END AS BIGINT) AS rm FROM nodes),
      c1 AS (SELECT e.dst AS node, SUM(r0.rm // od.deg) AS s
        FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r1 AS (SELECT n.node,
          CAST(CASE WHEN n.node IN ('h0', 'h1', 'h2') THEN 150000
            ELSE 0 END + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c1 USING (node)),
      c2 AS (SELECT e.dst AS node, SUM(r1.rm // od.deg) AS s
        FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r2 AS (SELECT n.node,
          CAST(CASE WHEN n.node IN ('h0', 'h1', 'h2') THEN 150000
            ELSE 0 END + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c2 USING (node)),
      c3 AS (SELECT e.dst AS node, SUM(r2.rm // od.deg) AS s
        FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r3 AS (SELECT n.node,
          CAST(CASE WHEN n.node IN ('h0', 'h1', 'h2') THEN 150000
            ELSE 0 END + (85 * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c3 USING (node))
      SELECT node, CAST(rm AS DOUBLE) / 1000000.0 AS rank FROM r3"""))

  /** Directed BFS depth ≤ 3 from seeds {h0,h1} over q174's graph —
    * the oracle unrolls all three relax-and-min rounds, so a
    * direction flip, an off-by-one hop, a seed echo outside the
    * graph, or min-vs-last semantics land as a hash mismatch. */
  private val q195 = Q("q195_hop_distance",
    (s, d) => {
      val edges = documents(s, d).select(
        concat(lit("h"), (col("doc_id") % 97).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 31 + 7) % 97).cast("string"))
          .as("dst"))
      graft.operators.LinkGraph.hopDistance(
        edges, "src", "dst", Seq("h0", "h1"), maxHops = 3)
    },
    Some("""WITH e AS (SELECT DISTINCT 'h' || (doc_id % 97) AS src,
          'h' || ((doc_id * 31 + 7) % 97) AS dst FROM documents),
      ns AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM ns
        WHERE node IN ('h0', 'h1')),
      x1 AS (SELECT e.dst AS node, d0.dist + 1 AS dist
        FROM e JOIN d0 ON e.src = d0.node),
      d1 AS (SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM
          (SELECT * FROM d0 UNION ALL SELECT * FROM x1)
        GROUP BY node),
      x2 AS (SELECT e.dst AS node, d1.dist + 1 AS dist
        FROM e JOIN d1 ON e.src = d1.node),
      d2 AS (SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM
          (SELECT * FROM d1 UNION ALL SELECT * FROM x2)
        GROUP BY node),
      x3 AS (SELECT e.dst AS node, d2.dist + 1 AS dist
        FROM e JOIN d2 ON e.src = d2.node),
      d3 AS (SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM
          (SELECT * FROM d2 UNION ALL SELECT * FROM x3)
        GROUP BY node)
      SELECT node, dist FROM d3"""))

  /** Mixed-script (homoglyph) token detection: the fixture plants
    * 'pаypal' (Cyrillic а inside Latin) on doc_id%3=0 and 'αlpha'
    * (Greek α) on the remaining doc_id%5=0 — the oracle replays
    * tokenization, each token's per-script presence flags, the ≥2
    * mixed rule, and the per-doc roll-up, so a flag computed on the
    * doc instead of the token, a lost script class, or ratio drift
    * hash-mismatches. */
  private val q196 = Q("q196_mixed_script_tokens",
    (s, d) => {
      val fix = documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" pаypal"))
            .when(col("doc_id") % 5 === 0, lit(" αlpha"))
            .otherwise(lit(""))).as("text"))
      graft.operators.ScriptProfile.mixedScriptTokens(
        fix, "doc_id", "text")
    },
    Some("""WITH fx AS (SELECT doc_id, text ||
          CASE WHEN doc_id % 3 = 0 THEN ' pаypal'
            WHEN doc_id % 5 = 0 THEN ' αlpha'
            ELSE '' END AS t
        FROM documents),
      tk AS (SELECT doc_id AS doc,
          unnest(regexp_split_to_array(trim(lower(t)), '\s+')) AS tok
        FROM fx),
      fl AS (SELECT doc, tok,
          (CASE WHEN len(regexp_extract_all(tok,
            '[A-Za-z\x{00C0}-\x{024F}]')) > 0 THEN 1 ELSE 0 END) +
          (CASE WHEN len(regexp_extract_all(tok,
            '[\x{0400}-\x{04FF}]')) > 0 THEN 1 ELSE 0 END) +
          (CASE WHEN len(regexp_extract_all(tok,
            '[\x{0370}-\x{03FF}]')) > 0 THEN 1 ELSE 0 END) +
          (CASE WHEN len(regexp_extract_all(tok,
            '[\x{0600}-\x{06FF}]')) > 0 THEN 1 ELSE 0 END) +
          (CASE WHEN len(regexp_extract_all(tok,
            '[\x{0590}-\x{05FF}]')) > 0 THEN 1 ELSE 0 END) +
          (CASE WHEN len(regexp_extract_all(tok,
            '[\x{0900}-\x{097F}]')) > 0 THEN 1 ELSE 0 END) +
          (CASE WHEN len(regexp_extract_all(tok,
            '[\x{4E00}-\x{9FFF}]')) > 0 THEN 1 ELSE 0 END) +
          (CASE WHEN len(regexp_extract_all(tok,
            '[\x{AC00}-\x{D7AF}]')) > 0 THEN 1 ELSE 0 END) +
          (CASE WHEN len(regexp_extract_all(tok,
            '[\x{3040}-\x{30FF}]')) > 0 THEN 1 ELSE 0 END) AS ns
        FROM tk)
      SELECT doc,
        CAST(SUM(CASE WHEN tok <> '' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tokens,
        CAST(SUM(CASE WHEN ns >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_mixed,
        CASE WHEN SUM(CASE WHEN tok <> '' THEN 1 ELSE 0 END) = 0
          THEN 0.0
          ELSE CAST(SUM(CASE WHEN ns >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(SUM(CASE WHEN tok <> '' THEN 1 ELSE 0 END) AS DOUBLE)
        END AS mixed_ratio
      FROM fl GROUP BY doc"""))

  /** Per-node link reciprocity over the two-generator graph plus a
    * parity-gated REVERSE of generator 1 (even doc_ids reverse their
    * gen-1 edge, planting a mixed reciprocated/one-way population) —
    * the oracle replays dedup, the reversed-edge semi-join, per-node
    * out-degree and reciprocated counts, and the ratio, so a
    * direction mix-up, lost self-loop drop, or a count over the
    * un-deduped multigraph hash-mismatches. */
  private val q197 = Q("q197_reciprocity",
    (s, d) => {
      val docs = documents(s, d)
      def gen(a: Int, b: Int) = docs.select(
        concat(lit("h"), (col("doc_id") % 97).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * a + b) % 97).cast("string"))
          .as("dst"))
      val rev = docs.where(col("doc_id") % 2 === 0).select(
        concat(lit("h"), ((col("doc_id") * 31 + 7) % 97).cast("string"))
          .as("src"),
        concat(lit("h"), (col("doc_id") % 97).cast("string")).as("dst"))
      graft.operators.LinkGraph.reciprocity(
        gen(31, 7).unionAll(gen(17, 3)).unionAll(rev), "src", "dst")
    },
    Some("""WITH e0 AS (
        SELECT 'h' || (doc_id % 97) AS s,
          'h' || ((doc_id * 31 + 7) % 97) AS t FROM documents
        UNION ALL
        SELECT 'h' || (doc_id % 97),
          'h' || ((doc_id * 17 + 3) % 97) FROM documents
        UNION ALL
        SELECT 'h' || ((doc_id * 31 + 7) % 97),
          'h' || (doc_id % 97) FROM documents WHERE doc_id % 2 = 0),
      e AS (SELECT DISTINCT s, t FROM e0 WHERE s <> t),
      r AS (SELECT a.s, a.t FROM e a
        JOIN e b ON a.s = b.t AND a.t = b.s),
      od AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS out_degree
        FROM e GROUP BY s),
      rc AS (SELECT s AS node,
          CAST(COUNT(*) AS BIGINT) AS n_reciprocated
        FROM r GROUP BY s)
      SELECT od.node, od.out_degree,
        CAST(COALESCE(rc.n_reciprocated, 0) AS BIGINT)
          AS n_reciprocated,
        CAST(COALESCE(rc.n_reciprocated, 0) AS DOUBLE) /
          CAST(od.out_degree AS DOUBLE) AS reciprocity
      FROM od LEFT JOIN rc ON od.node = rc.node"""))

  // Rolling time-RANGE window: trailing-30-day spend per customer — the
  // value-distance frame q40's ROWS cumulative can't express; same-day
  // rows are frame peers on both engines, so the compare is
  // order-insensitive by construction.
  private val q198 = Q("q198_rolling_window",
    (s, d) => graft.operators.Rolling.trailingSumCount(
      orders(s, d), "o_custkey", "o_orderdate", "o_totalprice",
      windowDays = 30),
    Some("""WITH t AS (SELECT o_custkey,
        CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
          AS BIGINT) AS epoch_day,
        CAST(o_totalprice AS DECIMAL(18,2)) AS v
      FROM orders)
      SELECT o_custkey, epoch_day,
        strftime(DATE '1970-01-01' + CAST(epoch_day AS INTEGER), '%Y-%m-%d')
          AS day,
        CAST(SUM(v) OVER (PARTITION BY o_custkey ORDER BY epoch_day
          RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll_sum,
        COUNT(*) OVER (PARTITION BY o_custkey ORDER BY epoch_day
          RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS roll_n
      FROM t"""))

  // Key-skew diagnosis over the event log — the pre-shuffle measurement
  // that decides between a plain exchange, salting, and isolate-union.
  private val q199 = Q("q199_key_skew_report",
    (s, d) => graft.operators.SkewReport.keySkew(
      events(s, d), "event_type", topN = 20),
    Some("""WITH c AS (SELECT COALESCE(CAST(event_type AS VARCHAR), '∅')
          AS key, COUNT(*) AS cnt FROM events GROUP BY 1),
      t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
          COUNT(*) AS n_keys FROM c)
      SELECT key, cnt,
        ROUND(CAST(cnt AS DOUBLE) / n_rows, 6) AS share,
        ROUND(CAST(cnt AS DOUBLE) * n_keys / n_rows, 6) AS skew,
        n_rows, n_keys
      FROM c, t ORDER BY cnt DESC, key LIMIT 20"""))

  // CDC MERGE apply: deletes + latest-wins upserts + passthrough in one
  // operator call over a deterministic change batch derived from the
  // customer dim itself.
  private val q200 = Q("q200_merge_changeset",
    (s, d) => {
      val c = customer(s, d)
      val cols = c.columns.map(col)
      def ch(df: DataFrame, op: String, seq: Long) =
        df.select(cols :+ lit(op).as("op") :+ lit(seq).as("seq"): _*)
      val del = ch(c.where(col("c_custkey") % 7 === 0), "D", 2L)
      val upd1 = ch(c.where(col("c_custkey") % 7 === 1)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0), "U", 1L)
      val upd2 = ch(c.where(col("c_custkey") % 7 === 1)
        .withColumn("c_acctbal", col("c_acctbal") + 200.0), "U", 3L)
      val ins = ch(c.where(col("c_custkey") % 7 === 2)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
        .withColumn("c_name", concat(col("c_name"), lit("_new"))), "I", 1L)
      graft.operators.Upsert.applyChangeSet(
        c, del.unionByName(upd1).unionByName(upd2).unionByName(ins),
        Seq("c_custkey"))
    },
    Some("""WITH ch AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
          'D' AS op, 2 AS seq FROM customer WHERE c_custkey % 7 = 0
        UNION ALL SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0,
          c_mktsegment, 'U', 1 FROM customer WHERE c_custkey % 7 = 1
        UNION ALL SELECT c_custkey, c_name, c_nationkey, c_acctbal + 200.0,
          c_mktsegment, 'U', 3 FROM customer WHERE c_custkey % 7 = 1
        UNION ALL SELECT c_custkey + 1000000, c_name || '_new', c_nationkey,
          c_acctbal, c_mktsegment, 'I', 1 FROM customer WHERE c_custkey % 7 = 2),
      w AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
          ORDER BY seq DESC, op, c_name, c_nationkey, c_acctbal,
            c_mktsegment) AS rn FROM ch)
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM w WHERE w.c_custkey = c.c_custkey)
      UNION ALL
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM w WHERE rn = 1 AND op <> 'D'"""))

  // Vocabulary-growth curve: new distinct tokens per ingest batch —
  // the corpus-diversity stall / junk-token spike monitor.
  private val q201 = Q("q201_vocab_growth",
    (s, d) => graft.operators.TrainingData.vocabGrowth(
      documents(s, d), "doc_id", "text", batchSize = 25L, n = 2),
    Some("""WITH tok AS (SELECT doc_id // 25 AS batch,
          unnest(list_transform(range(len(tk) - 1),
            i -> tk[i + 1] || ' ' || tk[i + 2])) AS token
        FROM (SELECT doc_id,
                string_split_regex(trim(lower(text)), '\s+') AS tk
              FROM documents)
        WHERE len(tk) >= 2),
      b AS (SELECT CAST(CAST(('0x' || substring(md5(token), 1, 16))
            AS UBIGINT) % 9223372036854775808 AS BIGINT) AS hv,
          MIN(batch) AS batch FROM tok
        WHERE token <> '' GROUP BY 1),
      p AS (SELECT batch, COUNT(*) AS n_new_tokens FROM b GROUP BY batch)
      SELECT batch, n_new_tokens,
        CAST(SUM(n_new_tokens) OVER (ORDER BY batch
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM p"""))

  // Z-order layout audit: per-z-bucket min/max rectangles over
  // (customer, order-day) prove two-dimensional file-skipping locality.
  private val q202 = Q("q202_zorder_layout",
    (s, d) => {
      val o = orders(s, d).select(
        (col("o_custkey") % 1024).as("x"),
        (datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long") % 1024).as("y"))
      graft.operators.Layout.zorderStats(o, "x", "y", shiftBits = 12)
    },
    Some("""WITH t AS (SELECT o_custkey % 1024 AS x,
        CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
          AS BIGINT) % 1024 AS y FROM orders),
      c1 AS (SELECT x, y, (x | (x << 8)) & 16711935 AS xa,
        (y | (y << 8)) & 16711935 AS ya FROM t),
      c2 AS (SELECT x, y, (xa | (xa << 4)) & 252645135 AS xb,
        (ya | (ya << 4)) & 252645135 AS yb FROM c1),
      c3 AS (SELECT x, y, (xb | (xb << 2)) & 858993459 AS xc,
        (yb | (yb << 2)) & 858993459 AS yc FROM c2),
      c4 AS (SELECT x, y, (xc | (xc << 1)) & 1431655765 AS xd,
        (yc | (yc << 1)) & 1431655765 AS yd FROM c3),
      z AS (SELECT x, y, xd | (yd << 1) AS zv FROM c4)
      SELECT zv >> 12 AS bucket, COUNT(*) AS n,
        MIN(x) AS x_min, MAX(x) AS x_max,
        MIN(y) AS y_min, MAX(y) AS y_max
      FROM z GROUP BY 1"""))

  // Link prediction over the synthetic crawl graph: exact-integer
  // resource-allocation index + common-neighbor counts, top pairs.
  private val q203 = Q("q203_link_prediction",
    (s, d) => {
      val docs = documents(s, d)
      def gen(a: Int, b: Int) = docs.select(
        concat(lit("h"), (col("doc_id") % 97).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * a + b) % 97).cast("string"))
          .as("dst"))
      graft.operators.LinkGraph.linkPrediction(
        gen(31, 7).unionAll(gen(17, 3)), "src", "dst",
        maxDeg = 1000, topK = 100)
    },
    Some("""WITH e0 AS (
        SELECT 'h' || (doc_id % 97) AS s, 'h' || ((doc_id * 31 + 7) % 97)
          AS t FROM documents
        UNION ALL SELECT 'h' || (doc_id % 97),
          'h' || ((doc_id * 17 + 3) % 97) FROM documents),
      e AS (SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
        FROM e0 WHERE s <> t),
      deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY node),
      nbr AS (SELECT t.c, t.n, 1000000 // degree AS ra
        FROM (SELECT u AS c, v AS n FROM e
              UNION ALL SELECT v, u FROM e) t
        JOIN deg ON t.c = deg.node WHERE degree <= 1000),
      p AS (SELECT a.n AS a, b.n AS b, COUNT(*) AS common_neighbors,
          CAST(SUM(a.ra) AS BIGINT) AS ra_micro
        FROM nbr a JOIN nbr b ON a.c = b.c AND a.n < b.n GROUP BY 1, 2),
      np AS (SELECT p.* FROM p WHERE NOT EXISTS
        (SELECT 1 FROM e WHERE e.u = p.a AND e.v = p.b))
      SELECT a AS node_a, b AS node_b, common_neighbors, ra_micro FROM np
      ORDER BY ra_micro DESC, common_neighbors DESC, node_a, node_b
      LIMIT 100"""))

  // Token↔label PMI feature selection: most over-represented tokens per
  // language, ratio-ordered (transcendental-free selection protocol).
  private val q204 = Q("q204_token_label_pmi",
    (s, d) => graft.operators.TrainingData.tokenLabelPmi(
      documents(s, d), "doc_id", "text", "lang", minBoth = 5L, topK = 15),
    Some("""WITH pr AS (SELECT DISTINCT doc_id, lang AS label, tok AS token
        FROM (SELECT doc_id, lang,
              unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
              FROM documents)
        WHERE tok <> ''),
      ctl AS (SELECT token, label, CAST(COUNT(*) AS BIGINT) AS n_both
        FROM pr GROUP BY 1, 2),
      ct AS (SELECT token, CAST(SUM(n_both) AS BIGINT) AS n_token
        FROM ctl GROUP BY 1),
      cl AS (SELECT lang AS label, COUNT(*) AS n_label
        FROM documents GROUP BY 1),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
      sc AS (SELECT ctl.label, ctl.token, n_both, n_token, n_label,
          CAST(n_both AS DOUBLE) * nd /
            (CAST(n_token AS DOUBLE) * CAST(n_label AS DOUBLE)) AS r
        FROM ctl JOIN ct USING (token) JOIN cl USING (label), nn
        WHERE n_both >= 5),
      rk AS (SELECT *, row_number() OVER (PARTITION BY label
          ORDER BY r DESC, token) AS rank FROM sc)
      SELECT label, token, n_both, n_token, n_label,
        ROUND(LN(r), 6) AS pmi, rank
      FROM rk WHERE rank <= 15"""))

  // Deterministic weighted (PPS-systematic) sampling by document length
  // — exact integer protocol, no RNG.
  private val q205 = Q("q205_weighted_sample",
    (s, d) => graft.operators.TrainingData.weightedSystematicSample(
      documents(s, d), "doc_id", "n_chars", k = 100),
    Some("""WITH t AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        CAST(SUM(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id, n_chars
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM documents),
      s AS (SELECT GREATEST(1, CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT)
          // 100) AS stride FROM documents)
      SELECT doc_id, w AS n_chars,
        CAST((cum // stride) - ((cum - w) // stride) AS BIGINT)
          AS multiplicity
      FROM t, s
      WHERE (cum // stride) - ((cum - w) // stride) >= 1"""))

  // Streaming SLIDING windows (1 h window / 15 min slide) drained with
  // AvailableNow == the batch explode-into-4-windows oracle.
  private val q206 = Q("q206_streaming_sliding",
    (s, d) => {
      drainToMemory(s, "graft_q206_sink", "complete") {
        graft.streaming.EventStreams.slidingAgg(eventsStream(s, d))
      }.select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss")
          .as("w_start"), col("event_type"), col("n"), col("total_value"))
    },
    Some("""WITH w AS (SELECT event_type, value,
        time_bucket(INTERVAL '15 minutes', ts) - j * INTERVAL '15 minutes'
          AS ws
      FROM events, (SELECT unnest(range(4)) AS j))
      SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM w GROUP BY ws, event_type"""))

  // Exact-moment Pearson correlations between document quality features
  // — decimal sums, one IEEE closed form, partitioning-invariant.
  private val q207 = Q("q207_feature_correlations",
    (s, d) => {
      val tk = graft.functions.TextExprs.tokens(col("text"))
      val feats = documents(s, d).select(
        col("n_chars"),
        size(tk).cast("long").as("n_tokens"),
        size(array_distinct(graft.functions.TextExprs
          .tokens(lower(col("text"))))).cast("long").as("n_distinct"))
      graft.operators.Stats.featureCorrelations(
        feats, Seq("n_chars", "n_tokens", "n_distinct"), scale = 0)
    },
    Some("""WITH f AS (SELECT CAST(n_chars AS BIGINT) AS a,
        CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS b,
        CAST(len(list_distinct(string_split_regex(trim(lower(text)),
          '\s+'))) AS BIGINT) AS c
      FROM documents),
      m AS (SELECT COUNT(*) AS n,
        SUM(CAST(a AS HUGEINT)) AS sa, SUM(CAST(b AS HUGEINT)) AS sb,
        SUM(CAST(c AS HUGEINT)) AS sc,
        SUM(CAST(a AS HUGEINT) * a) AS saa,
        SUM(CAST(b AS HUGEINT) * b) AS sbb,
        SUM(CAST(c AS HUGEINT) * c) AS scc,
        SUM(CAST(a AS HUGEINT) * b) AS sab,
        SUM(CAST(a AS HUGEINT) * c) AS sac,
        SUM(CAST(b AS HUGEINT) * c) AS sbc
      FROM f)
      SELECT 'n_chars' AS feat_a, 'n_tokens' AS feat_b, n,
        ROUND((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) -
            CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)) /
          sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) -
              CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) *
            (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) -
              CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6) AS corr
      FROM m
      UNION ALL
      SELECT 'n_chars', 'n_distinct', n,
        ROUND((CAST(n AS DOUBLE) * CAST(sac AS DOUBLE) -
            CAST(sa AS DOUBLE) * CAST(sc AS DOUBLE)) /
          sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) -
              CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) *
            (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) -
              CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))), 6)
      FROM m
      UNION ALL
      SELECT 'n_tokens', 'n_distinct', n,
        ROUND((CAST(n AS DOUBLE) * CAST(sbc AS DOUBLE) -
            CAST(sb AS DOUBLE) * CAST(sc AS DOUBLE)) /
          sqrt((CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) -
              CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) *
            (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) -
              CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))), 6)
      FROM m"""))

  // Sorted-neighborhood blocking + exact-jaccard verify: the merge/purge
  // candidate strategy orthogonal to LSH banding.
  private val q208 = Q("q208_sorted_neighborhood",
    (s, d) => graft.operators.Dedup.sortedNeighborhoodPairs(
      documents(s, d), "doc_id", "text",
      blockLen = 12, windowW = 5, threshold = 0.3),
    Some(s"""WITH nk AS (SELECT doc_id,
        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS key
      FROM documents),
      rk AS (SELECT doc_id, substring(key, 1, 12) AS blk,
        row_number() OVER (PARTITION BY substring(key, 1, 12)
          ORDER BY key, doc_id) AS rn FROM nk),
      cand AS (SELECT least(a.doc_id, b.doc_id) AS d1,
          greatest(a.doc_id, b.doc_id) AS d2
        FROM rk a JOIN rk b ON a.blk = b.blk
          AND b.rn > a.rn AND b.rn <= a.rn + 5),
      $shingleCte,
      sz AS (SELECT doc, COUNT(*) AS n FROM h GROUP BY doc),
      inter AS (SELECT c.d1, c.d2, COUNT(*) AS inter FROM cand c
        JOIN h a ON a.doc = c.d1
        JOIN h b ON b.doc = c.d2 AND b.hv = a.hv
        GROUP BY c.d1, c.d2)
      SELECT d1, d2,
        ROUND(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
      FROM inter JOIN sz s1 ON d1 = s1.doc JOIN sz s2 ON d2 = s2.doc
      WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= 0.3"""))

  // Group-wise z-score: document length normalized within language so a
  // global cutoff compares like with like.
  private val q209 = Q("q209_zscore_by_group",
    (s, d) => graft.operators.TrainingData.normalizeByGroup(
      documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
      "lang", "n_chars"),
    Some("""WITH m AS (SELECT lang, COUNT(*) AS n,
        SUM(CAST(n_chars AS HUGEINT)) AS s,
        SUM(CAST(n_chars AS HUGEINT) * n_chars) AS ss
      FROM documents GROUP BY lang)
      SELECT doc_id, d.lang, n_chars,
        CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) -
            CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) = 0 THEN NULL
          ELSE ROUND((CAST(n AS DOUBLE) * CAST(n_chars AS DOUBLE) -
              CAST(s AS DOUBLE)) /
            sqrt(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) -
              CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6) END AS z
      FROM documents d JOIN m ON d.lang = m.lang"""))

  // Largest-remainder fetch-budget apportionment across sources —
  // integer-exact shares that sum to the budget.
  private val q210 = Q("q210_budget_apportion",
    (s, d) => graft.operators.CrawlPolicy.apportionBudget(
      documents(s, d).select(col("source"), col("n_chars")),
      "source", "n_chars", budget = 1000L),
    Some("""WITH pk AS (SELECT CAST(source AS VARCHAR) AS key,
        CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS score
      FROM documents GROUP BY 1),
      t AS (SELECT CAST(SUM(score) AS BIGINT) AS w FROM pk),
      b AS (SELECT key, score,
        CAST((CAST(score AS HUGEINT) * 1000) // w AS BIGINT) AS base,
        CAST((CAST(score AS HUGEINT) * 1000) % w AS BIGINT) AS rem
      FROM pk, t),
      l AS (SELECT 1000 - CAST(SUM(base) AS BIGINT) AS leftover FROM b),
      r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, key) AS rn
        FROM b)
      SELECT key, score, base,
        CAST(CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
        base + CAST(CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
          AS slots
      FROM r, l"""))

  // Proximity (NEAR) search: "hash" within 3 tokens of "join" — exact
  // minimum gap via the adjacent-pair merge, no positional self-join.
  private val q211 = Q("q211_proximity_search",
    (s, d) => graft.operators.TextSearch.proximityMatches(
      documents(s, d), "doc_id", "text", "hash", "join", slop = 3),
    Some("""WITH pt AS (SELECT doc, pos, tok FROM (
        SELECT doc_id AS doc, CAST(p[2] AS BIGINT) AS pos, p[1] AS tok
        FROM (SELECT doc_id, unnest(list_zip(tk, range(len(tk)))) AS p
              FROM (SELECT doc_id,
                      string_split_regex(trim(lower(text)), '\s+') AS tk
                    FROM documents)))
        WHERE tok IN ('hash', 'join')),
      w AS (SELECT doc, pos, tok,
        lag(pos) OVER (PARTITION BY doc ORDER BY pos) AS ppos,
        lag(tok) OVER (PARTITION BY doc ORDER BY pos) AS ptok FROM pt),
      g AS (SELECT doc,
        MIN(CASE WHEN ptok IS NOT NULL AND ptok <> tok
          THEN pos - ppos END) AS min_gap,
        COUNT(CASE WHEN tok = 'hash' THEN 1 END) AS n_a,
        COUNT(CASE WHEN tok = 'join' THEN 1 END) AS n_b
      FROM w GROUP BY doc)
      SELECT doc, n_a, n_b, min_gap FROM g WHERE min_gap <= 3"""))

  // TextRank corpus keywords: PageRank centrality over the adjacent-token
  // co-occurrence graph, integer-micros protocol, 3 iterations.
  private val q212 = Q("q212_textrank_keywords",
    (s, d) => graft.operators.TextSearch.textrankKeywords(
      documents(s, d), "doc_id", "text", iters = 3, topK = 30),
    Some("""WITH tkn AS (SELECT
          string_split_regex(trim(lower(text)), '\s+') AS tk
        FROM documents),
      p0 AS (SELECT unnest(list_transform(range(len(tk) - 1),
          i -> struct_pack(a := tk[i + 1], b := tk[i + 2]))) AS p
        FROM tkn WHERE len(tk) >= 2),
      pe AS (SELECT p.a AS ta, p.b AS tb FROM p0
        WHERE p.a <> '' AND p.b <> ''),
      hp AS (SELECT
        CAST(CAST(('0x' || substring(md5(ta), 1, 16)) AS UBIGINT)
          % 9223372036854775808 AS BIGINT) AS src,
        CAST(CAST(('0x' || substring(md5(tb), 1, 16)) AS UBIGINT)
          % 9223372036854775808 AS BIGINT) AS dst FROM pe),
      e AS (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM hp UNION ALL SELECT dst, src FROM hp)),
      vm AS (SELECT
          CAST(CAST(('0x' || substring(md5(token), 1, 16)) AS UBIGINT)
            % 9223372036854775808 AS BIGINT) AS node_hv,
          MIN(token) AS token
        FROM (SELECT unnest(string_split_regex(trim(lower(text)),
            '\s+')) AS token FROM documents)
        WHERE token <> '' GROUP BY 1),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rm FROM nodes),
      c1 AS (SELECT e.dst AS node, SUM(r0.rm // od.deg) AS s
        FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r1 AS (SELECT n.node,
          CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c1 USING (node)),
      c2 AS (SELECT e.dst AS node, SUM(r1.rm // od.deg) AS s
        FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r2 AS (SELECT n.node,
          CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c2 USING (node)),
      c3 AS (SELECT e.dst AS node, SUM(r2.rm // od.deg) AS s
        FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r3 AS (SELECT n.node,
          CAST(150000 + (85 * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c3 USING (node))
      SELECT vm.token, CAST(rm AS DOUBLE) / 1000000.0 AS rank
      FROM r3 JOIN vm ON r3.node = vm.node_hv
      ORDER BY rank DESC, token LIMIT 30"""))

  // New-user arrival curve: running COUNT(DISTINCT user) restated as
  // first-seen attribution — no distinct-over-window.
  private val q213 = Q("q213_arrival_curve",
    (s, d) => graft.operators.Sessionize.arrivalCurve(
      events(s, d), "user_id", "ts"),
    Some("""WITH f AS (SELECT user_id,
        MIN(CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
          AS BIGINT)) AS epoch_day
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      p AS (SELECT epoch_day, COUNT(*) AS n_new FROM f GROUP BY epoch_day)
      SELECT epoch_day,
        strftime(DATE '1970-01-01' + CAST(epoch_day AS INTEGER),
          '%Y-%m-%d') AS day,
        n_new,
        CAST(SUM(n_new) OVER (ORDER BY epoch_day
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_entities
      FROM p"""))

  // First-order Markov transition matrix over each user's event stream.
  private val q214 = Q("q214_event_transitions",
    (s, d) => graft.operators.Sessionize.eventTransitions(
      events(s, d), "user_id", "ts", "event_id", "event_type"),
    Some("""WITH s AS (SELECT event_type AS from_type,
        lead(event_type) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS to_type
      FROM events),
      c AS (SELECT from_type, to_type, COUNT(*) AS n FROM s
        WHERE to_type IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
        FROM c GROUP BY 1)
      SELECT c.from_type, c.to_type, n,
        ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS p
      FROM c JOIN t USING (from_type)"""))

  // Winsorization at exact per-group permille bounds — outlier clipping
  // before moments.
  private val q215 = Q("q215_winsorize",
    (s, d) => graft.operators.TrainingData.winsorizeByGroup(
      documents(s, d).select(col("lang"), col("n_chars")),
      "lang", "n_chars", loPermille = 50, hiPermille = 950),
    Some("""WITH h AS (SELECT lang AS key, CAST(n_chars AS BIGINT) AS v,
        COUNT(*) AS cnt FROM documents
        WHERE lang IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1, 2),
      c AS (SELECT key, v,
        SUM(cnt) OVER (PARTITION BY key ORDER BY v) AS cum,
        SUM(cnt) OVER (PARTITION BY key) AS n FROM h),
      q AS (SELECT key, p AS q_permille, MIN(v) AS value
        FROM c, (SELECT unnest([50, 950]) AS p)
        WHERE cum >= (p * n + 999) // 1000 GROUP BY 1, 2),
      lo AS (SELECT key, value AS lo FROM q WHERE q_permille = 50),
      hi AS (SELECT key, value AS hi FROM q WHERE q_permille = 950)
      SELECT d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
        CASE WHEN d.n_chars < lo THEN lo WHEN d.n_chars > hi THEN hi
          ELSE CAST(d.n_chars AS BIGINT) END AS winsorized,
        CASE WHEN d.n_chars < lo THEN 'low' WHEN d.n_chars > hi
          THEN 'high' ELSE 'none' END AS clipped
      FROM documents d JOIN lo ON d.lang = lo.key
      JOIN hi ON d.lang = hi.key
      WHERE d.lang IS NOT NULL AND d.n_chars IS NOT NULL"""))

  // Stream-static enrichment: the event stream joins a broadcast batch
  // dimension and rolls up per segment; misses land in the NULL group.
  private val q216 = Q("q216_streaming_enrich",
    (s, d) => {
      val dim = customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      drainToMemory(s, "graft_q216_sink", "complete") {
        graft.streaming.EventStreams
          .enrichAgg(eventsStream(s, d), dim, "user_id", "c_mktsegment")
      }
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1"""))

  // Golden-record survivorship: modal non-null attribute per duplicate
  // cluster, ties to the smallest value.
  private val q217 = Q("q217_golden_record",
    (s, d) => graft.operators.Dedup.goldenRecord(
      documents(s, d).withColumn("fp",
        md5(lower(regexp_replace(trim(col("text")), "\\s+", " ")))),
      "doc_id", "fp", Seq("lang", "source")),
    Some("""WITH b AS (SELECT doc_id,
        md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS cluster,
        lang, source FROM documents),
      m AS (SELECT cluster, MIN(doc_id) AS rep_id, COUNT(*) AS n_members
        FROM b GROUP BY 1),
      lv AS (SELECT cluster, lang, COUNT(*) AS c FROM b
        WHERE lang IS NOT NULL GROUP BY 1, 2),
      lb AS (SELECT cluster, MAX(c) AS mx FROM lv GROUP BY 1),
      lw AS (SELECT lv.cluster, MIN(lang) AS lang FROM lv
        JOIN lb ON lv.cluster = lb.cluster AND lv.c = lb.mx GROUP BY 1),
      sv AS (SELECT cluster, source, COUNT(*) AS c FROM b
        WHERE source IS NOT NULL GROUP BY 1, 2),
      sb AS (SELECT cluster, MAX(c) AS mx FROM sv GROUP BY 1),
      sw AS (SELECT sv.cluster, MIN(source) AS source FROM sv
        JOIN sb ON sv.cluster = sb.cluster AND sv.c = sb.mx GROUP BY 1)
      SELECT m.cluster, rep_id, n_members, lw.lang, sw.source
      FROM m LEFT JOIN lw USING (cluster) LEFT JOIN sw USING (cluster)"""))

  // Benford first-digit audit over order totals — integer-domain digit
  // extraction, pinned expected shares, exact chi-square terms.
  private val q218 = Q("q218_benford_audit",
    (s, d) => graft.operators.Stats.benfordAudit(
      orders(s, d), "o_totalprice"),
    Some("""WITH c AS (SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice)
          AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        COUNT(*) AS n
      FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1.0
      GROUP BY 1),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
      e AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS digit,
        unnest([0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
          0.066947, 0.057992, 0.051153, 0.045757]) AS expected)
      SELECT c.digit, n,
        ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        expected,
        ROUND((CAST(n AS DOUBLE) - expected * CAST(total AS DOUBLE)) *
          (CAST(n AS DOUBLE) - expected * CAST(total AS DOUBLE)) /
          (expected * CAST(total AS DOUBLE)), 6) AS chi_term
      FROM c JOIN e USING (digit), t"""))

  // Tokenizer fertility: BPE tokens per word and chars per token per
  // language — the tokenizer-evaluation table (a high-fertility language
  // is paying more sequence length per word).
  private val q219 = Q("q219_tokenizer_fertility",
    (s, d) => {
      val toks = graft.functions.BpeEncode.bpeEncode(
        lower(col("text")), graft.functions.BpeEncode.DemoMerges)
      documents(s, d)
        .where(length(trim(col("text"))) > 0)
        .select(col("lang"),
          size(toks).cast("long").as("__nb"),
          size(filter(graft.functions.TextExprs.tokens(lower(col("text"))),
            t => t =!= "")).cast("long").as("__nw"),
          length(col("text")).cast("long").as("__nc"))
        .groupBy(col("lang"))
        .agg(sum(col("__nb")).as("n_bpe_tokens"),
          sum(col("__nw")).as("n_words"),
          sum(col("__nc")).as("n_chars"))
        .withColumn("fertility",
          round(col("n_bpe_tokens").cast("double") /
            col("n_words").cast("double"), 6))
        .withColumn("chars_per_token",
          round(col("n_chars").cast("double") /
            col("n_bpe_tokens").cast("double"), 6))
    },
    Some(bpeFertilityOracleSql(graft.functions.BpeEncode.DemoMerges)))

  // Deterministic stratified k-fold audit: per (lang, fold) balance.
  private val q220 = Q("q220_kfold_report",
    (s, d) => graft.operators.TrainingData.kFoldReport(
      documents(s, d), "doc_id", "lang", k = 5),
    Some("""WITH f AS (SELECT lang AS stratum,
        CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 16))
          AS UBIGINT) % 9223372036854775808 AS BIGINT) % 5 AS fold
      FROM documents),
      c AS (SELECT stratum, fold, COUNT(*) AS n FROM f GROUP BY 1, 2),
      t AS (SELECT stratum, CAST(SUM(n) AS BIGINT) AS tot FROM c
        GROUP BY 1)
      SELECT c.stratum, c.fold, n,
        ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
      FROM c JOIN t USING (stratum)"""))

  // Collocation extraction: directed adjacent-pair PMI with a
  // transcendental-free ratio sort, min-count guarded.
  private val q221 = Q("q221_collocations",
    (s, d) => graft.operators.TrainingData.collocations(
      documents(s, d), "doc_id", "text", minCount = 20L, topK = 40),
    Some("""WITH bg AS (SELECT p[1] AS a, p[2] AS b, COUNT(*) AS n_ab
      FROM (SELECT unnest(list_transform(range(len(tk) - 1),
              i -> [tk[i + 1], tk[i + 2]])) AS p
            FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS tk
                  FROM documents)
            WHERE len(tk) >= 2)
      WHERE p[1] <> '' AND p[2] <> '' GROUP BY 1, 2),
      lft AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM bg
        GROUP BY 1),
      rgt AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM bg
        GROUP BY 1),
      tot AS (SELECT CAST(SUM(n_ab) AS DOUBLE) AS nd FROM bg),
      sc AS (SELECT a, b, n_ab, n_a, n_b,
          CAST(n_ab AS DOUBLE) * nd /
            (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS r
        FROM bg JOIN lft USING (a) JOIN rgt USING (b), tot
        WHERE n_ab >= 20)
      SELECT a, b, n_ab, n_a, n_b, ROUND(LN(r), 6) AS pmi
      FROM sc ORDER BY r DESC, a, b LIMIT 40"""))

  // Streaming fixed-window rate limiter: at most 1 admitted event per
  // user per hour, slot-numbered — equals the batch row_number gate.
  private val q222 = Q("q222_streaming_rate_limit",
    (s, d) => {
      import s.implicits._
      val ev = eventsStream(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[graft.streaming.EventStreams.Event]
      drainToMemory(s, "graft_q222_sink", "update") {
        graft.streaming.EventStreams
          .rateLimitPerKey(ev, windowMinutes = 60, maxPerWindow = 1L).toDF()
      }.select(col("event_id"), col("user_id"),
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("slot"))
    },
    Some("""WITH r AS (SELECT event_id, user_id,
        date_trunc('hour', ts) AS w,
        row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
          ORDER BY ts, event_id) AS slot
      FROM events)
      SELECT event_id, user_id,
        strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
        CAST(slot AS BIGINT) AS slot
      FROM r WHERE slot <= 1"""))

  // Language-ID confusion matrix: the n-gram classifier scored against
  // the labeled lang column, with per-truth-language shares.
  private val q223 = Q("q223_langid_confusion",
    (s, d) => documents(s, d)
      .select(col("lang"), TextExprs.langId(col("text")).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("lang"))).cast("double"),
        6)),
    Some {
      val cnts = TextExprs.langStopwords.map { case (l, sw) =>
        s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x IN (${sw.map(w => s"'$w'").mkString(",")}))) AS c_$l"
      }.mkString(", ")
      val langs = TextExprs.langStopwords.map(_._1)
      val greatest = s"GREATEST(${langs.map("c_" + _).mkString(",")})"
      val cases = langs.map(l => s"WHEN c_$l = $greatest THEN '$l'").mkString(" ")
      s"""WITH c AS (SELECT doc_id, lang, $cnts FROM documents),
        p AS (SELECT lang,
          CASE WHEN $greatest = 0 THEN 'unk' $cases END AS pred_lang
          FROM c),
        g AS (SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY 1, 2),
        t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tot FROM g GROUP BY 1)
        SELECT g.lang, pred_lang, n,
          ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
        FROM g JOIN t USING (lang)"""
    })

  // Late-arrival audit: lateness behind the per-user running max event
  // time, in ingest order — sizes a watermark before deploying one.
  private val q224 = Q("q224_lateness_audit",
    (s, d) => graft.operators.Sessionize.latenessAudit(
      events(s, d), "user_id", "ts", "event_id", horizonSeconds = 3600L),
    Some("""WITH l AS (SELECT user_id,
        GREATEST(COALESCE(MAX(epoch_us(ts)) OVER (PARTITION BY user_id
          ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
          1 PRECEDING) - epoch_us(ts), 0), 0) AS late_us
      FROM events)
      SELECT user_id, COUNT(*) AS n_events,
        CAST(SUM(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_late,
        CAST(MAX(late_us // 1000000) AS BIGINT) AS max_lateness_s
      FROM l GROUP BY user_id"""))

  // Order-independent table fingerprints: XOR of 63-bit row hashes +
  // counts — the cross-engine migration-validation check.
  private val q225 = Q("q225_table_fingerprint",
    (s, d) => {
      def fp(df: DataFrame, table: String, canonical: Column) =
        graft.operators.Stats.contentFingerprint(df, canonical)
          .select(lit(table).as("tbl"), col("n_rows"), col("fingerprint"))
      fp(customer(s, d), "customer",
        concat_ws("|", col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal").cast(DecimalType(18, 2)), col("c_mktsegment")))
        .unionAll(fp(orders(s, d), "orders",
          concat_ws("|", col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"),
            col("o_totalprice").cast(DecimalType(18, 2)),
            date_format(col("o_orderdate"), "yyyy-MM-dd"),
            col("o_orderpriority"))))
    },
    Some("""SELECT 'customer' AS tbl, COUNT(*) AS n_rows,
      COALESCE(bit_xor(CAST(CAST(('0x' || substring(md5(
        CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' ||
        CAST(c_nationkey AS VARCHAR) || '|' ||
        CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
        c_mktsegment), 1, 16)) AS UBIGINT)
        % 9223372036854775808 AS BIGINT)), 0) AS fingerprint
      FROM customer
      UNION ALL
      SELECT 'orders', COUNT(*),
      COALESCE(bit_xor(CAST(CAST(('0x' || substring(md5(
        CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
        || '|' || o_orderstatus || '|' ||
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
        strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') || '|' ||
        o_orderpriority), 1, 16)) AS UBIGINT)
        % 9223372036854775808 AS BIGINT)), 0)
      FROM orders"""))

  // Transition dwell-time quantiles: exact median/p90 seconds per
  // (from→to) step — eventTransitions says where, this says how fast.
  private val q226 = Q("q226_transition_gaps",
    (s, d) => graft.operators.Sessionize.transitionGapQuantiles(
      events(s, d), "user_id", "ts", "event_id", "event_type",
      permille = Seq(500, 900)),
    Some("""WITH st AS (SELECT event_type AS ft,
        lead(event_type) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS tt,
        (lead(epoch_us(ts)) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) - epoch_us(ts)) // 1000000 AS gap
      FROM events),
      g AS (SELECT ft || '>' || tt AS key, CAST(gap AS BIGINT) AS v
        FROM st WHERE tt IS NOT NULL),
      h AS (SELECT key, v, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
      c AS (SELECT key, v,
        SUM(cnt) OVER (PARTITION BY key ORDER BY v) AS cum,
        SUM(cnt) OVER (PARTITION BY key) AS n FROM h),
      q AS (SELECT key, CAST(p AS BIGINT) AS q_permille,
          CAST(MAX(n) AS BIGINT) AS n, MIN(v) AS value
        FROM c, (SELECT unnest([500, 900]) AS p)
        WHERE cum >= (p * n + 999) // 1000 GROUP BY 1, 2)
      SELECT key AS transition, q_permille, n, value FROM q"""))

  // Per-source exact-duplicate rate: which ingest stream pays for
  // copies, before any near-dup compute is spent on it.
  private val q227 = Q("q227_dup_rate_by_source",
    (s, d) => graft.operators.Dedup.dupRateByGroup(
      documents(s, d), "doc_id", "text", "source"),
    Some("""WITH f AS (SELECT source AS grp,
        md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      FROM documents),
      c AS (SELECT grp, fp, COUNT(*) AS n FROM f GROUP BY 1, 2)
      SELECT grp, CAST(SUM(n) AS BIGINT) AS n_docs,
        COUNT(*) AS n_distinct,
        ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
          AS dup_rate
      FROM c GROUP BY 1"""))

  // End-to-end curation chain: language gate → exact keep-best dedup →
  // deterministic PPS-systematic sample — three verified operators
  // composed the way a production corpus build runs them.
  private val q228 = Q("q228_curation_chain",
    (s, d) => {
      val docs = documents(s, d)
      val en = docs.where(TextExprs.langId(col("text")) === "en")
      val kept = graft.operators.Dedup
        .exactKeepBest(en, "doc_id", "text", "n_chars")
        .select(col("doc_id"))
        .join(en, Seq("doc_id"))
      graft.operators.TrainingData.weightedSystematicSample(
        kept, "doc_id", "n_chars", k = 50)
    },
    Some {
      val cnts = TextExprs.langStopwords.map { case (l, sw) =>
        s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x IN (${sw.map(w => s"'$w'").mkString(",")}))) AS c_$l"
      }.mkString(", ")
      val langs = TextExprs.langStopwords.map(_._1)
      val greatest = s"GREATEST(${langs.map("c_" + _).mkString(",")})"
      val cases = langs.map(l => s"WHEN c_$l = $greatest THEN '$l'").mkString(" ")
      s"""WITH cl AS (SELECT doc_id, text, n_chars, $cnts FROM documents),
        en AS (SELECT doc_id, text, n_chars FROM cl
          WHERE (CASE WHEN $greatest = 0 THEN 'unk' $cases END) = 'en'),
        kb AS (SELECT doc_id, n_chars FROM (
          SELECT doc_id, n_chars, ROW_NUMBER() OVER (
            PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
            ORDER BY n_chars DESC, doc_id) AS rn FROM en) WHERE rn = 1),
        t AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
          CAST(SUM(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id, n_chars
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM kb),
        s AS (SELECT GREATEST(1, CAST(SUM(CAST(n_chars AS BIGINT))
            AS BIGINT) // 50) AS stride FROM kb)
        SELECT doc_id, w AS n_chars,
          CAST((cum // stride) - ((cum - w) // stride) AS BIGINT)
            AS multiplicity
        FROM t, s
        WHERE (cum // stride) - ((cum - w) // stride) >= 1"""
    })

  // Authority-weighted fetch budget: PageRank host authority feeds the
  // largest-remainder allocator — the graph family composed with the
  // scheduling family.
  private val q229 = Q("q229_authority_budget",
    (s, d) => {
      val docs = documents(s, d)
      def gen(a: Int, b: Int) = docs.select(
        concat(lit("h"), (col("doc_id") % 97).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * a + b) % 97).cast("string"))
          .as("dst"))
      val ranks = graft.operators.LinkGraph.pageRank(
        gen(31, 7), "src", "dst", iters = 3)
        .select(col("node"),
          (col("rank") * 1000000.0).cast("long").as("score_micro"))
      graft.operators.CrawlPolicy.apportionBudget(
        ranks, "node", "score_micro", budget = 10000L)
    },
    Some("""WITH e AS (SELECT DISTINCT 'h' || (doc_id % 97) AS src,
          'h' || ((doc_id * 31 + 7) % 97) AS dst FROM documents),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rm FROM nodes),
      c1 AS (SELECT e.dst AS node, SUM(r0.rm // od.deg) AS s
        FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r1 AS (SELECT n.node,
          CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c1 USING (node)),
      c2 AS (SELECT e.dst AS node, SUM(r1.rm // od.deg) AS s
        FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r2 AS (SELECT n.node,
          CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c2 USING (node)),
      c3 AS (SELECT e.dst AS node, SUM(r2.rm // od.deg) AS s
        FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src
        GROUP BY e.dst),
      r3 AS (SELECT n.node,
          CAST(150000 + (85 * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS rm
        FROM nodes n LEFT JOIN c3 USING (node)),
      sc AS (SELECT node AS key,
          CAST(trunc(CAST(rm AS DOUBLE) / 1000000.0 * 1000000.0)
            AS BIGINT) AS score FROM r3),
      t AS (SELECT CAST(SUM(score) AS BIGINT) AS w FROM sc),
      b AS (SELECT key, score,
        CAST((CAST(score AS HUGEINT) * 10000) // w AS BIGINT) AS base,
        CAST((CAST(score AS HUGEINT) * 10000) % w AS BIGINT) AS rem
      FROM sc, t),
      l AS (SELECT 10000 - CAST(SUM(base) AS BIGINT) AS leftover FROM b),
      r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, key) AS rn
        FROM b)
      SELECT key, score, base,
        CAST(CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
          AS extra,
        base + CAST(CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
          AS slots
      FROM r, l"""))

  // Embedding outlier audit: furthest-from-label-centroid vectors under
  // the exact integer protocol (no centroid division, one float at the
  // reported distance).
  private val q230 = Q("q230_embedding_outliers",
    (s, d) => graft.operators.Similarity.centroidOutliers(
      embeddings(s, d), "vec_id", "embedding", "label", topK = 5),
    Some("""WITH q AS (SELECT vec_id, label, CAST(p[2] AS INTEGER) AS dim,
        CAST(floor(CAST(p[1] AS DOUBLE) * 10000.0) AS BIGINT) AS xq
      FROM (SELECT vec_id, label,
            unnest(list_zip(embedding, range(len(embedding)))) AS p
            FROM embeddings)),
      c AS (SELECT label, dim, SUM(CAST(xq AS HUGEINT)) AS s,
        COUNT(*) AS n FROM q GROUP BY 1, 2),
      d AS (SELECT vec_id, q.label,
          SUM((CAST(n AS HUGEINT) * xq - s) * (CAST(n AS HUGEINT) * xq - s))
            AS d2,
          MAX(n) AS n
        FROM q JOIN c ON q.label = c.label AND q.dim = c.dim
        GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY label
          ORDER BY CAST(d2 AS DOUBLE) DESC, vec_id) AS rank FROM d)
      SELECT label, rank, vec_id,
        ROUND(sqrt(CAST(d2 AS DOUBLE)) / (CAST(n AS DOUBLE) * 10000.0), 6)
          AS dist
      FROM r WHERE rank <= 5"""))

  /** SemDeDup with a literal MULTI-cell model — closes the q166 gap
    * where cross-cell confinement and per-cell dominance were only
    * spec-gated: three fixed unit-basis centroids e0/e1/e2 (no
    * training), so the oracle replays assignment EXACTLY — nearest-
    * by-L2 on normalized vectors against basis centroids is argmax of
    * coordinates nv[1..3] (ties → lowest index, matching the native
    * kernel's strict-< argmin), and centroid-cosine degenerates to the
    * assigned coordinate (adding the basis vector's zeros is
    * IEEE-exact, q166's trick). The dominance NOT EXISTS then runs
    * PER CELL: tau-similar pairs straddling a cell boundary both
    * survive (confinement), and within a cell the lowest-csim edge
    * member dominates. Pairwise dots are the identical ordered fold on
    * both sides (VectorNative ↔ list_dot_product). */
  private val q231 = Q("q231_semantic_dedup_multicell",
    (s, d) => {
      def basis(i: Int) = Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
      graft.operators.SemDeDup.dedup(
          embeddings(s, d), "vec_id", "embedding",
          graft.operators.IvfIndex.Model(
            Array(basis(0), basis(1), basis(2))), tau = 0.35)
        .select(col("vec_id"), col("label"))
    },
    Some("""WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
      n AS (SELECT vec_id, label,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        FROM c),
      asg AS (SELECT vec_id, label, nv,
          CASE WHEN nv[1] >= nv[2] AND nv[1] >= nv[3] THEN 0
               WHEN nv[2] >= nv[3] THEN 1 ELSE 2 END AS cell
        FROM n),
      o AS (SELECT vec_id, label, nv, cell,
          CASE cell WHEN 0 THEN nv[1] WHEN 1 THEN nv[2] ELSE nv[3] END
            AS csim
        FROM asg)
      SELECT vec_id, label FROM o a
      WHERE NOT EXISTS (SELECT 1 FROM o b
        WHERE b.cell = a.cell
          AND (b.csim < a.csim
            OR (b.csim = a.csim AND b.vec_id < a.vec_id))
          AND list_dot_product(a.nv, b.nv) >= 0.35)"""))

  /** BM25 stats purge — the takedown path (round-13 verdict missing
    * #1): stats are saved over the FULL corpus, every doc_id ≡ 0 mod 5
    * is then forgotten via [[graft.operators.TextSearch
    * .purgeCorpusStats]] (negative additive partials — no rewrite of
    * what's there), the partials are compacted, and the indexed search
    * runs over the surviving corpus with the purged stats. The oracle
    * is q116's score contract computed FROM SCRATCH on survivors only
    * — a stale df, an unpurged N/TL, or a lost negative partial
    * changes a score and fails the hash (purge ∘ save ≡ save ∘
    * filter). */
  private val q232 = Q("q232_bm25_stats_purge",
    (s, d) => {
      val dir = staged("bm25_purge", d) { f =>
        graft.operators.TextSearch.saveCorpusStats(
          documents(s, d), "doc_id", "text", f.getAbsolutePath)
        graft.operators.TextSearch.purgeCorpusStats(
          documents(s, d).where(col("doc_id") % 5 === 0), "doc_id", "text",
          f.getAbsolutePath)
        // fold the save + negative-purge partials — the gate covers
        // save → purge → COMPACT → indexed-score end-to-end
        graft.operators.TextSearch.compactCorpusStats(s, f.getAbsolutePath)
      }
      graft.operators.TextSearch.bm25TopKIndexed(
        documents(s, d).where(col("doc_id") % 5 =!= 0), "doc_id", "text",
        dir.getAbsolutePath, Seq("spark", "vector", "join"), k = 20)
    },
    Some("""WITH base AS (SELECT doc_id AS doc,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
            t -> t <> '') AS toks
        FROM documents WHERE doc_id % 5 <> 0),
      b AS (SELECT doc, toks, CAST(len(toks) AS BIGINT) AS dl FROM base),
      st AS (SELECT COUNT(*) AS n, COALESCE(SUM(dl), 0) AS tl FROM b),
      t(term) AS (SELECT * FROM (VALUES ('spark'), ('vector'), ('join'))),
      dfreq AS (SELECT term,
          (SELECT COUNT(*) FROM b WHERE list_contains(b.toks, t.term)) AS df
        FROM t),
      idf AS (SELECT term,
          ROUND(ln(CAST(st.n + 1 AS DOUBLE) / (dfreq.df + 0.5)), 6) AS idf
        FROM dfreq CROSS JOIN st),
      pr AS (SELECT doc, dl, toks FROM b
        WHERE list_has_any(toks, ['spark', 'vector', 'join'])),
      tf AS (SELECT doc, dl, term,
          CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
        FROM pr CROSS JOIN t),
      c AS (SELECT doc, CASE WHEN tf > 0 THEN 1 ELSE 0 END AS hit,
          CAST(ROUND(idf.idf * ((10.0 * st.tl * tf) /
              (10.0 * st.tl * tf + 3.0 * st.tl + 9.0 * dl * st.n)), 6)
            AS DECIMAL(18,6)) AS contrib
        FROM tf JOIN idf USING (term) CROSS JOIN st)
      SELECT doc, CAST(SUM(hit) AS BIGINT) AS n_hit,
        CAST(CAST(SUM(contrib) * 1000000 AS BIGINT) AS DOUBLE)
          / 1000000.0 AS score
      FROM c GROUP BY doc ORDER BY score DESC, doc LIMIT 20"""))

  /** IVF index purge — q232's sibling for the ANN family: the index is
    * trained and saved over the FULL corpus, every vec_id ≡ 0 mod 7 is
    * then forgotten via [[graft.operators.IvfIndex.purgeFromIndex]]
    * (only the cells holding a purged id are rewritten, behind the
    * staged per-cell swap), and the search runs against the purged
    * index. Queries keep ids 0 and 7 — PURGED vectors used as query
    * points — so the gate also pins that a forgotten document can no
    * longer retrieve itself. nProbe = k exhausts the probes, so the
    * oracle is exact brute force over the SURVIVING corpus: a posting
    * that outlived its takedown (or a survivor lost from a rewritten
    * cell) changes a neighbor and fails the hash. */
  private val q233 = Q("q233_ann_ivf_purge",
    (s, d) => {
      val emb = embeddings(s, d)
      val dir = staged("ivf_purge", d) { f =>
        val model = graft.operators.IvfIndex.train(
          emb, "vec_id", "embedding", k = 16)
        graft.operators.IvfIndex.saveIndex(model,
          graft.operators.IvfIndex.assign(emb, "vec_id", "embedding", model),
          f.getAbsolutePath)
        graft.operators.IvfIndex.purgeFromIndex(s, f.getAbsolutePath,
          emb.where(col("vec_id") % 7 === 0).select(col("vec_id")), "vec_id")
      }
      val (model, postings) =
        graft.operators.IvfIndex.loadIndex(s, dir.getAbsolutePath)
      graft.operators.IvfIndex.search(postings,
        emb.where(col("vec_id") < 10),
        "vec_id", "embedding", model, k = 5, nProbe = 16)
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id % 7 <> 0),
        scored AS (SELECT q_id, n_id,
            list_dot_product(qv, cv) /
              (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
          FROM q CROSS JOIN c WHERE q_id <> n_id),
        r AS (SELECT q_id, n_id, cos,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored)
        SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, ROUND(cos, 6) AS cos
        FROM r WHERE rank <= 5"""))

  /** Incremental near-dup dedup against a persisted MinHash signature
    * store (round-13 verdict missing #2; q75's exact-store protocol
    * extended to Jaccard): the store is bootstrapped from the even half
    * of the corpus ([[graft.operators.Dedup.saveMinhashStore]] + the
    * one-shot intra pairs), the odd half then arrives as a delta batch
    * through [[graft.operators.Dedup.minhashIncremental]] — candidates
    * from delta-vs-store band collisions plus delta-internal banding,
    * exact candidate-restricted Jaccard verify, survivors' signatures
    * appended. The union of the bootstrap pairs and the delta's
    * returned pairs must equal ONE-SHOT [[graft.operators.Dedup
    * .minhashDuplicates]] over the full corpus — q114's oracle
    * verbatim — so a candidate lost at the store boundary, a stale
    * band row, or a double-counted posting all fail the hash. */
  private val q234 = Q("q234_minhash_incremental",
    (s, d) => {
      val dir = staged("minhash_inc", d) { f =>
        val docs = documents(s, d)
        val batch1 = docs.where(col("doc_id") % 2 === 0)
        val batch2 = docs.where(col("doc_id") % 2 === 1)
        graft.operators.Dedup.saveMinhashStore(
          batch1, "doc_id", "text", s"${f.getAbsolutePath}/store")
        val bootstrapPairs = graft.operators.Dedup.minhashDuplicates(
          batch1, "doc_id", "text", 0.4, bands = 4, ngram = 3)
        val deltaPairs = graft.operators.Dedup.minhashIncremental(
          batch2, "doc_id", "text", s"${f.getAbsolutePath}/store", 0.4,
          bands = 4, ngram = 3)
        bootstrapPairs.unionAll(deltaPairs)
          .write.mode("overwrite").parquet(s"${f.getAbsolutePath}/pairs")
      }
      ManifestRelation.readParquet(s, s"${dir.getAbsolutePath}/pairs")
    },
    q114.oracle)

  /** Sketched vocab-growth curve (round-13 verdict missing #5 — the
    * 100 TB answer to q201's distinct-gram-mass shuffle): per-batch HLL
    * sketches fold map-side, the shuffle carries fixed-size sketch
    * buffers instead of one row per distinct gram, and cumulative
    * distinct is a union over the tiny per-batch sketch table. The gate
    * is the q48 error-bar protocol: the exact curve (q201's protocol,
    * replayed by the oracle) plus a boolean pinning the sketch estimate
    * within 10% of exact at every batch — loose enough for HLL at
    * lgK=12 (~1.6% rsd), tight enough that a broken union or a dropped
    * batch fails. */
  private val q235 = Q("q235_vocab_growth_sketch",
    (s, d) => {
      val exact = graft.operators.TrainingData.vocabGrowth(
        documents(s, d), "doc_id", "text", batchSize = 25L, n = 2)
      val approx = graft.operators.TrainingData.vocabGrowthApprox(
        documents(s, d), "doc_id", "text", batchSize = 25L, n = 2)
      exact.join(approx, Seq("batch"))
        .select(col("batch"), col("n_new_tokens"), col("cum_tokens"),
          (abs(col("cum_approx") - col("cum_tokens"))
            <= col("cum_tokens").cast("double") * 0.10)
            .as("cum_within_10pct"))
    },
    Some("""WITH tok AS (SELECT doc_id // 25 AS batch,
          unnest(list_transform(range(len(tk) - 1),
            i -> tk[i + 1] || ' ' || tk[i + 2])) AS token
        FROM (SELECT doc_id,
                string_split_regex(trim(lower(text)), '\s+') AS tk
              FROM documents)
        WHERE len(tk) >= 2),
      b AS (SELECT CAST(CAST(('0x' || substring(md5(token), 1, 16))
            AS UBIGINT) % 9223372036854775808 AS BIGINT) AS hv,
          MIN(batch) AS batch FROM tok
        WHERE token <> '' GROUP BY 1),
      p AS (SELECT batch, COUNT(*) AS n_new_tokens FROM b GROUP BY batch)
      SELECT batch, n_new_tokens,
        CAST(SUM(n_new_tokens) OVER (ORDER BY batch
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        TRUE AS cum_within_10pct
      FROM p"""))

  /** MinHash store purge + re-ingest (q234's store completed with the
    * takedown verb): the store is built over the FULL corpus, every
    * odd doc is then purged via [[graft.operators.Dedup
    * .purgeMinhashStore]] (only the id-derived bucket partitions
    * rewrite), the partials are compacted, and the odd half is
    * re-ingested as a fresh delta. A purged doc must be fully
    * forgotten — treated as never seen (re-admitted, not skipped) and
    * absent from the survivor side of every candidate pair — so the
    * re-ingest must return EXACTLY the one-shot duplicate pairs that
    * touch at least one odd doc: a posting that survived its takedown
    * adds a pair, a survivor lost from a rewritten bucket loses one,
    * and a broken seen-probe returns nothing. */
  private val q237 = Q("q237_minhash_store_purge",
    (s, d) => {
      val dir = staged("minhash_purge", d) { f =>
        val docs = documents(s, d)
        val store = s"${f.getAbsolutePath}/store"
        graft.operators.Dedup.saveMinhashStore(
          docs, "doc_id", "text", store)
        graft.operators.Dedup.purgeMinhashStore(s, store,
          docs.where(col("doc_id") % 2 === 1).select(col("doc_id")),
          "doc_id")
        graft.operators.Dedup.compactMinhashStore(s, store)
        graft.operators.Dedup.minhashIncremental(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text", store, 0.4,
          bands = 4, ngram = 3)
          .write.mode("overwrite").parquet(s"${f.getAbsolutePath}/pairs")
      }
      ManifestRelation.readParquet(s, s"${dir.getAbsolutePath}/pairs")
    },
    q114.oracle.map(sql =>
      s"SELECT * FROM ($sql) WHERE d1 % 2 = 1 OR d2 % 2 = 1"))

  /** Continuous near-dup ingest (q234's store protocol driven through
    * Structured Streaming): the corpus arrives as two pinned-order
    * micro-batches (even ids, then odd — `maxFilesPerTrigger=1` +
    * forced modTimes), [[graft.streaming.DocStreams.nearDupIngest]]
    * bootstraps the store from the first batch and rides
    * minhashIncremental for the second, writing each batch's duplicate
    * pairs to its own partition. The union of the per-batch pair logs
    * must equal one-shot minhashDuplicates over the full corpus —
    * q114's oracle verbatim — so a batch-boundary candidate loss, a
    * bootstrap/incremental mismatch, or a foreachBatch ordering bug
    * all fail the hash. */
  private val q238 = Q("q238_streaming_near_dup_ingest",
    (s, d) => {
      val dir = staged("doc_stream", d) { f =>
        val docs = documents(s, d).select(col("doc_id"), col("text"))
        val stream = evenOddStream(s, new java.io.File(f, "in"), docs, "doc_id")
        Queries.withStreamingParallelism(s) {
          graft.streaming.DocStreams.nearDupIngest(stream,
            "doc_id", "text", s"$f/store", s"$f/pairs", s"$f/ckpt",
            threshold = 0.4)
        }
      }
      ManifestRelation.readParquet(s, s"${dir.getAbsolutePath}/pairs")
        .select(col("d1"), col("d2"), col("jaccard"))
    },
    q114.oracle)

  /** IVF rebuild-in-place (round-13 verdict missing #8 — q145's
    * embeddingDrift says WHEN centroids went stale; this is the
    * rebuild that needs no path change): the index is first saved with
    * deliberately STALE geometry — 4 centroids trained on the even
    * half only — then [[graft.operators.IvfIndex.rebuildIndex]]
    * retrains k=16 on the postings' own vectors, re-encodes every
    * posting, and swaps the whole index directory in behind the staged
    * protocol. The search runs against the rebuilt index at nProbe = k
    * (probes exhausted), so the oracle is exact brute force over the
    * full corpus — a posting lost or duplicated by the rebuild, or a
    * truncated swap, changes a neighbor and fails the hash. */
  private val q236 = Q("q236_ann_ivf_rebuild",
    (s, d) => {
      val emb = embeddings(s, d)
      val dir = staged("ivf_rebuild", d) { f =>
        val stale = graft.operators.IvfIndex.train(
          emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", k = 4)
        graft.operators.IvfIndex.saveIndex(stale,
          graft.operators.IvfIndex.assign(emb, "vec_id", "embedding", stale),
          f.getAbsolutePath)
        graft.operators.IvfIndex.rebuildIndex(s, f.getAbsolutePath, k = 16)
      }
      val (model, postings) =
        graft.operators.IvfIndex.loadIndex(s, dir.getAbsolutePath)
      graft.operators.IvfIndex.search(postings,
        emb.where(col("vec_id") < 10),
        "vec_id", "embedding", model, k = 5, nProbe = 16)
    },
    q146.oracle)

  /** Store-only pair derivation (round-14 verdict missing #2 made
    * executable — [[graft.operators.Dedup.derivePairsFromStore]]): the
    * persisted MinHash store is built through the production
    * composition (bootstrap save over the even half, incremental
    * ingest of the odd half — q234's protocol), its per-ingest pair
    * outputs are then DISCARDED, and the full verified pair set is
    * regenerated from the store alone: bands → banded-collision
    * candidates → exact Jaccard against the stored postings. Must
    * equal one-shot minhashDuplicates over the full corpus — q114's
    * oracle verbatim — so a candidate lost in the store's band rows, a
    * posting dropped or duplicated by an ingest, or a broken verify
    * all fail the hash. This is the replay-stable remedy for
    * DocStreams' at-most-once pair log. */
  private val q239 = Q("q239_derive_pairs_from_store",
    (s, d) => {
      val dir = staged("derive_pairs", d) { f =>
        val docs = documents(s, d)
        graft.operators.Dedup.saveMinhashStore(
          docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
          s"${f.getAbsolutePath}/store")
        graft.operators.Dedup.minhashIncremental(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
          s"${f.getAbsolutePath}/store", 0.4, bands = 4, ngram = 3).count()
      }
      graft.operators.Dedup.derivePairsFromStore(s,
        s"${dir.getAbsolutePath}/store", 0.4)
    },
    q114.oracle)

  /** Streaming BM25 stats ingest (q153's save → append → indexed-search
    * protocol driven through Structured Streaming — the round-14
    * verdict's streaming × artifact-store matrix completed for the
    * retrieval family): the corpus arrives as two pinned-order
    * micro-batches (even ids bootstrap the stats, odd ids append
    * batch-tagged partials via [[graft.streaming.ArtifactStreams
    * .bm25StatsIngest]]), and the indexed search runs against the
    * streamed stats. The oracle is q116's FULL-corpus score contract
    * verbatim — a lost delta term, a double-counted df (a broken
    * replay-cleanup), or a stale N/TL changes a score and fails the
    * hash. */
  private val q240 = Q("q240_bm25_streaming_ingest",
    (s, d) => {
      val dir = staged("bm25_stream", d) { f =>
        val docs = documents(s, d).select(col("doc_id"), col("text"))
        val stream = evenOddStream(s, new java.io.File(f, "in"), docs, "doc_id")
        Queries.withStreamingParallelism(s) {
          graft.streaming.ArtifactStreams.bm25StatsIngest(stream,
            "doc_id", "text", s"$f/stats", s"$f/ckpt")
        }
      }
      graft.operators.TextSearch.bm25TopKIndexed(
        documents(s, d), "doc_id", "text", s"${dir.getAbsolutePath}/stats",
        Seq("spark", "vector", "join"), k = 20)
    },
    q116.oracle)

  /** Streaming IVF index ingest (q146's save → append → search protocol
    * driven through Structured Streaming): the embedding corpus arrives
    * as two pinned-order micro-batches — the even half bootstraps the
    * index (train + save, k = 16), the odd half appends batch-tagged
    * postings against the frozen centroids via
    * [[graft.streaming.ArtifactStreams.ivfIngest]] — and the search
    * runs against the grown index at nProbe = k (probes exhausted), so
    * the oracle is exact brute force over the FULL corpus: a vector
    * lost at the batch boundary, mis-assigned by the append, or
    * double-appended by a broken replay-cleanup changes a neighbor and
    * fails the hash. */
  private val q241 = Q("q241_ann_ivf_streaming_ingest",
    (s, d) => {
      val emb = embeddings(s, d)
      val dir = staged("ivf_stream", d) { f =>
        val stream = evenOddStream(s, new java.io.File(f, "in"), emb, "vec_id")
        Queries.withStreamingParallelism(s) {
          graft.streaming.ArtifactStreams.ivfIngest(stream,
            "vec_id", "embedding", s"$f/index", s"$f/ckpt", k = 16)
        }
      }
      val (model, postings) = graft.operators.IvfIndex.loadIndex(
        s, s"${dir.getAbsolutePath}/index")
      graft.operators.IvfIndex.search(postings,
        emb.where(col("vec_id") < 10),
        "vec_id", "embedding", model, k = 5, nProbe = 16)
    },
    q146.oracle)

  /** Full MinHash-store lifecycle under the round-15 manifest design:
    * save (even half) → incremental ingest (odd half) → purge (every
    * third doc) → VACUUM (the retention verb that deletes the
    * copy-on-write garbage the mutations unlisted) → derive the pair
    * set from the store alone. The oracle is one-shot
    * minhashDuplicates over exactly the SURVIVING corpus (q114's
    * protocol filtered to non-purged docs), so a purge survivor lost
    * by a manifest flip, a vacuum that deleted a LISTED file, or a
    * stale band row resurrecting a purged doc all change a pair and
    * fail the hash. */
  private val q242 = Q("q242_minhash_store_vacuum",
    (s, d) => {
      val dir = staged("store_vacuum", d) { f =>
        val docs = documents(s, d)
        val store = s"${f.getAbsolutePath}/store"
        graft.operators.Dedup.saveMinhashStore(
          docs.where(col("doc_id") % 2 === 0), "doc_id", "text", store)
        graft.operators.Dedup.minhashIncremental(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text", store,
          0.4, bands = 4, ngram = 3).count()
        graft.operators.Dedup.purgeMinhashStore(s, store,
          docs.where(col("doc_id") % 3 === 0).select(col("doc_id")),
          "doc_id")
        graft.operators.Dedup.vacuumMinhashStore(s, store)
      }
      graft.operators.Dedup.derivePairsFromStore(s,
        s"${dir.getAbsolutePath}/store", 0.4)
    },
    q114.oracle.map(sql =>
      s"SELECT * FROM ($sql) WHERE d1 % 3 <> 0 AND d2 % 3 <> 0"))

  /** Full ANN-index lifecycle under the manifest design (q242's sibling
    * for the IVF family): a deliberately-stale 4-centroid index is
    * bootstrapped from the even half, the odd half appends against the
    * frozen centroids, every vec_id ≡ 0 mod 7 is purged, and
    * [[graft.operators.IvfIndex.rebuildIndex]] retrains k=16 over the
    * survivors and commits the whole new index in one manifest flip
    * (ending with the vacuum). nProbe = k exhausts the probes, so the
    * oracle is exact brute force over the surviving corpus — a vector
    * lost at any verb boundary, resurrected by a stale manifest entry,
    * or mis-assigned by the rebuild changes a neighbor and fails the
    * hash. */
  private val q243 = Q("q243_ann_ivf_lifecycle",
    (s, d) => {
      val emb = embeddings(s, d)
      val dir = staged("ivf_lifecycle", d) { f =>
        val even = emb.where(col("vec_id") % 2 === 0)
        val stale = graft.operators.IvfIndex.train(
          even, "vec_id", "embedding", k = 4)
        graft.operators.IvfIndex.saveIndex(stale,
          graft.operators.IvfIndex.assign(even, "vec_id", "embedding", stale),
          f.getAbsolutePath)
        graft.operators.IvfIndex.appendToIndex(s, f.getAbsolutePath,
          emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding")
        graft.operators.IvfIndex.purgeFromIndex(s, f.getAbsolutePath,
          emb.where(col("vec_id") % 7 === 0).select(col("vec_id")), "vec_id")
        graft.operators.IvfIndex.rebuildIndex(s, f.getAbsolutePath, k = 16)
      }
      val (model, postings) =
        graft.operators.IvfIndex.loadIndex(s, dir.getAbsolutePath)
      graft.operators.IvfIndex.search(postings,
        emb.where(col("vec_id") < 10),
        "vec_id", "embedding", model, k = 5, nProbe = 16)
    },
    q233.oracle)

  /** Full BM25-stats lifecycle (q242's sibling for the retrieval
    * family): stats bootstrap from the even half, the odd half appends
    * additive partials, every doc_id ≡ 0 mod 5 purges as negative
    * partials, and compaction folds everything (ending with the
    * vacuum). The final state equals q232's (all docs minus the
    * fifths), so its from-scratch-on-survivors oracle applies verbatim
    * — a partial lost at any verb boundary or a double-counted df from
    * a torn flip changes a score and fails the hash. */
  private val q244 = Q("q244_bm25_stats_lifecycle",
    (s, d) => {
      val dir = staged("bm25_lifecycle", d) { f =>
        val docs = documents(s, d)
        graft.operators.TextSearch.saveCorpusStats(
          docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
          f.getAbsolutePath)
        graft.operators.TextSearch.appendCorpusStats(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
          f.getAbsolutePath)
        graft.operators.TextSearch.purgeCorpusStats(
          docs.where(col("doc_id") % 5 === 0), "doc_id", "text",
          f.getAbsolutePath)
        graft.operators.TextSearch.compactCorpusStats(s, f.getAbsolutePath)
      }
      graft.operators.TextSearch.bm25TopKIndexed(
        documents(s, d).where(col("doc_id") % 5 =!= 0), "doc_id", "text",
        dir.getAbsolutePath, Seq("spark", "vector", "join"), k = 20)
    },
    q232.oracle)

  /** Snapshot (time-travel) read of the MinHash store: the store runs
    * the full bootstrap → ingest → purge lifecycle, then the derive
    * pins the PRE-PURGE manifest version. Copy-on-write mutations never
    * delete bytes — a purge only commits a manifest that stops listing
    * them — so the pre-purge pair set must still be byte-identical to
    * one-shot [[graft.operators.Dedup.minhashDuplicates]] over the FULL
    * corpus (q114's oracle verbatim). A purge that physically deleted,
    * a manifest flip that mixed file-sets, or a resolver that silently
    * fell back to latest (q242 gates latest = survivors-only) all
    * change pairs and fail the hash. */
  private val q245 = Q("q245_minhash_time_travel",
    (s, d) => {
      val dir = staged("minhash_asof", d) { f =>
        val docs = documents(s, d)
        val store = s"${f.getAbsolutePath}/store"
        graft.operators.Dedup.saveMinhashStore(
          docs.where(col("doc_id") % 2 === 0), "doc_id", "text", store) // v1
        graft.operators.Dedup.minhashIncremental(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text", store,
          0.4, bands = 4, ngram = 3).count() // v2
        graft.operators.Dedup.purgeMinhashStore(s, store,
          docs.where(col("doc_id") % 3 === 0).select(col("doc_id")),
          "doc_id") // v3
      }
      graft.operators.Dedup.derivePairsFromStore(s,
        s"${dir.getAbsolutePath}/store", 0.4, asOfVersion = Some(2))
    },
    q114.oracle)

  /** Writer-side isolation through the verbs: two threads race
    * [[graft.operators.TextSearch.appendCorpusStats]] on one stats
    * layout. The CAS manifest commit guarantees exactly one wins each
    * version claim; the loser's attempt is invisible (its moved-in
    * files are unlisted) and its retry re-reads the winner's manifest —
    * so REGARDLESS of interleaving the final stats hold every partial
    * exactly once, and scoring the full corpus reproduces q116's
    * full-corpus oracle bit-for-bit. A lost update (clobbered
    * manifest), a double-count (blind retry), or a torn visible partial
    * all shift idf/N and fail the hash. */
  private val q246 = Q("q246_bm25_concurrent_ingest",
    (s, d) => {
      val dir = staged("bm25_race", d) { f =>
        val docs = documents(s, d)
        graft.operators.TextSearch.saveCorpusStats(
          docs.where(col("doc_id") % 4 === 0), "doc_id", "text",
          f.getAbsolutePath)
        val halves = Seq(1, 2).map(r =>
          docs.where(col("doc_id") % 4 === r).localCheckpoint())
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = halves.map { h =>
          new Thread(() => {
            try {
              barrier.await()
              var done = false
              while (!done) {
                try {
                  graft.operators.TextSearch.appendCorpusStats(
                    h, "doc_id", "text", f.getAbsolutePath)
                  done = true
                } catch {
                  // CAS loser: nothing visible; re-run is the contract
                  case _: java.util.ConcurrentModificationException => ()
                }
              }
            } catch { case t: Throwable => errs.add(t) }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        require(errs.isEmpty, s"racing append died: ${errs.peek()}")
        graft.operators.TextSearch.appendCorpusStats(
          docs.where(col("doc_id") % 4 === 3), "doc_id", "text",
          f.getAbsolutePath)
      }
      graft.operators.TextSearch.bm25TopKIndexed(
        documents(s, d), "doc_id", "text", dir.getAbsolutePath,
        Seq("spark", "vector", "join"), k = 20)
    },
    q116.oracle)

  /** Snapshot read of the IVF index (q245's sibling for the ANN
    * family): bootstrap on the even half (v1), append the odd half
    * (v2), purge every seventh vector (v3), then search with
    * [[graft.operators.IvfIndex.loadIndex]] PINNED at the pre-purge
    * version with probes exhausted — exact brute force over the FULL
    * corpus (q146's oracle verbatim), even though the latest manifest
    * no longer lists the purged cells' original files. */
  private val q247 = Q("q247_ann_ivf_time_travel",
    (s, d) => {
      val emb = embeddings(s, d)
      val dir = staged("ivf_asof", d) { f =>
        val even = emb.where(col("vec_id") % 2 === 0)
        val model = graft.operators.IvfIndex.train(
          even, "vec_id", "embedding", k = 16)
        graft.operators.IvfIndex.saveIndex(model,
          graft.operators.IvfIndex.assign(even, "vec_id", "embedding", model),
          f.getAbsolutePath) // v1
        graft.operators.IvfIndex.appendToIndex(s, f.getAbsolutePath,
          emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding") // v2
        graft.operators.IvfIndex.purgeFromIndex(s, f.getAbsolutePath,
          emb.where(col("vec_id") % 7 === 0).select(col("vec_id")),
          "vec_id") // v3
      }
      val (model, postings) = graft.operators.IvfIndex.loadIndex(
        s, dir.getAbsolutePath, asOfVersion = Some(2))
      graft.operators.IvfIndex.search(postings,
        emb.where(col("vec_id") < 10),
        "vec_id", "embedding", model, k = 5, nProbe = 16)
    },
    q146.oracle)

  /** Filtered (metadata-constrained) ANN search — "top-k nearest WHERE
    * label ≡ 1 mod 3": the allow-set (an id frame joined down from the
    * metadata predicate) semi-joins the postings BEFORE any cosine is
    * computed, so filtered-out vectors are never scored. Probes are
    * exhausted (nProbe = k cells), so [[graft.operators.IvfIndex
    * .searchFiltered]] is EXACT over the allowed subset and the oracle
    * is brute force with the same WHERE — a leaked disallowed
    * neighbor, a dropped allowed one, or a rank shifted by scoring
    * filtered-out vectors all change a row and fail the hash. */
  private val q248 = Q("q248_ann_filtered",
    (s, d) => {
      val emb = embeddings(s, d)
      val model = graft.operators.IvfIndex.train(emb, "vec_id", "embedding", k = 16)
      val index = graft.operators.IvfIndex.assign(emb, "vec_id", "embedding", model)
      graft.operators.IvfIndex.searchFiltered(index,
        emb.where(col("vec_id") < 10).limit(10),
        "vec_id", "embedding", model, k = 5, nProbe = 16,
        allowed = emb.where(col("label") % 3 === 1), allowedIdCol = "vec_id")
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE label % 3 = 1),
        scored AS (SELECT q_id, n_id,
            list_dot_product(qv, cv) /
              (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
          FROM q CROSS JOIN c WHERE q_id <> n_id),
        r AS (SELECT q_id, n_id, cos,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored)
        SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, ROUND(cos, 6) AS cos
        FROM r WHERE rank <= 5"""))

  /** Semantic-store lifecycle (the FOURTH persisted artifact family —
    * [[graft.operators.SemDeDup]]'s cluster-confined dominance behind
    * the same save/ingest/purge/vacuum verbs and manifest isolation as
    * the MinHash, IVF, and BM25 families): evens bootstrap the store
    * (seq 1), odds ingest as the second batch (seq 2), every seventh
    * id purges, and the survivors DERIVE from what remains under
    * arrival-order dominance — order (seq, csim, id), dropped
    * examples dominating too, purged examples absent from BOTH sides
    * (a takedown automatically re-admits what only its docs
    * suppressed). Basis-vector centroids (q231's trick) make the
    * assignment SQL-expressible: cell = first argmax of nv[1..3],
    * csim = nv[cell+1] exactly. A lost example, a wrong seq, a
    * survivor judged against a purged dominator, or a torn flip all
    * change a row and fail the hash. */
  private val q249 = Q("q249_semantic_store_lifecycle",
    (s, d) => {
      def basis(i: Int) = Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
      val dir = staged("sem_store", d) { f =>
        val e = embeddings(s, d)
        val m = graft.operators.IvfIndex.Model(
          Array(basis(0), basis(1), basis(2)))
        graft.operators.SemanticStore.save(
          e.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
          f.getAbsolutePath, m) // v1
        graft.operators.SemanticStore.ingest(
          e.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
          f.getAbsolutePath, tau = 0.35).count() // v2
        graft.operators.SemanticStore.purge(s, f.getAbsolutePath,
          e.where(col("vec_id") % 7 === 0).select(col("vec_id")),
          "vec_id") // v3
      }
      graft.operators.SemanticStore.deriveSurvivors(s,
          dir.getAbsolutePath, tau = 0.35)
        .select(col("doc").as("vec_id"), col("cell"), col("seq"))
    },
    Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 7 <> 0),
      n AS (SELECT vec_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        FROM c),
      o AS (SELECT vec_id, nv,
          CASE WHEN nv[1] >= nv[2] AND nv[1] >= nv[3] THEN 0
               WHEN nv[2] >= nv[3] THEN 1 ELSE 2 END AS cell,
          CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 2 END AS seq
        FROM n),
      o2 AS (SELECT vec_id, nv, cell, seq,
          CASE cell WHEN 0 THEN nv[1] WHEN 1 THEN nv[2] ELSE nv[3] END
            AS csim
        FROM o)
      SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
        CAST(a.seq AS INTEGER) AS seq
      FROM o2 a WHERE NOT EXISTS (SELECT 1 FROM o2 b
        WHERE b.cell = a.cell
          AND (b.seq < a.seq OR (b.seq = a.seq
            AND (b.csim < a.csim
              OR (b.csim = a.csim AND b.vec_id < a.vec_id))))
          AND list_dot_product(a.nv, b.nv) >= 0.35)"""))

  /** Streaming semantic ingest (q249's family driven through
    * Structured Streaming — the fourth row of the streaming ×
    * persisted-artifact matrix): the embedding corpus arrives as two
    * pinned-order micro-batches (evens bootstrap the store with the
    * basis-centroid model, odds ingest as seq 2), and the output is
    * the VERDICT LOG itself — every doc's (cell, seq, kept) across
    * both batch partitions, exactly-once under replay because each
    * partition is a pure function of (store state, batch id set). The
    * oracle recomputes arrival-order dominance over the full corpus in
    * SQL; a wrong verdict, a dropped doc, a wrong seq, or a
    * double-written partition all change rows and fail the hash. */
  private val q250 = Q("q250_semantic_streaming_ingest",
    (s, d) => {
      def basis(i: Int) = Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
      val dir = staged("sem_stream", d) { f =>
        val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
        val stream = evenOddStream(s, new java.io.File(f, "in"), e, "vec_id")
        Queries.withStreamingParallelism(s) {
          graft.streaming.ArtifactStreams.semanticIngest(stream,
            "vec_id", "embedding", s"$f/store", s"$f/verdicts", s"$f/ckpt",
            tau = 0.35, model = Some(graft.operators.IvfIndex.Model(
              Array(basis(0), basis(1), basis(2)))))
        }
      }
      ManifestRelation.readParquet(s, s"${dir.getAbsolutePath}/verdicts")
        .select(col("doc").as("vec_id"), col("cell"), col("seq"),
          col("kept"))
    },
    Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
      n AS (SELECT vec_id,
          list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        FROM c),
      o AS (SELECT vec_id, nv,
          CASE WHEN nv[1] >= nv[2] AND nv[1] >= nv[3] THEN 0
               WHEN nv[2] >= nv[3] THEN 1 ELSE 2 END AS cell,
          CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 2 END AS seq
        FROM n),
      o2 AS (SELECT vec_id, nv, cell, seq,
          CASE cell WHEN 0 THEN nv[1] WHEN 1 THEN nv[2] ELSE nv[3] END
            AS csim
        FROM o)
      SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
        CAST(a.seq AS INTEGER) AS seq,
        NOT EXISTS (SELECT 1 FROM o2 b
          WHERE b.cell = a.cell
            AND (b.seq < a.seq OR (b.seq = a.seq
              AND (b.csim < a.csim
                OR (b.csim = a.csim AND b.vec_id < a.vec_id))))
            AND list_dot_product(a.nv, b.nv) >= 0.35) AS kept
      FROM o2 a"""))

  /** Corpus-wide exact-substring dedup (arXiv:2107.06499's ExactSubstr
    * pass in window-hash form): every duplicated 8-token span loses all
    * but its globally FIRST occurrence — mid-sentence, cross-document —
    * and documents reassemble from surviving tokens. The oracle
    * reproduces the full protocol (whitespace tokens, md5 window
    * hashes, (doc, pos) winner, interval coverage, single-space
    * reassembly); a kept duplicate, a removed first copy, an
    * off-by-one window bound, or divergent whitespace normalization
    * all change a row and fail the hash. */
  private val q251 = Q("q251_substring_dedup",
    (s, d) =>
      graft.operators.TrainingData.dedupSubstringsGlobal(
        documents(s, d), "doc_id", "text", minTokens = 8),
    Some("""WITH t AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents),
      w0 AS (SELECT doc_id,
          unnest(range(0, greatest(len(toks) - 7, 0))) AS pos FROM t),
      w AS (SELECT w0.doc_id, w0.pos,
          md5(array_to_string(list_slice(t.toks, w0.pos + 1, w0.pos + 8), ' ')) AS h
        FROM w0 JOIN t USING (doc_id)),
      r AS (SELECT doc_id, pos, h,
          ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
          COUNT(*) OVER (PARTITION BY h) AS c
        FROM w),
      rem AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM r
        WHERE c >= 2 AND rn > 1),
      p0 AS (SELECT doc_id, unnest(range(0, len(toks))) AS p FROM t),
      posx AS (SELECT p0.doc_id, p0.p, t.toks[p0.p + 1] AS tok
        FROM p0 JOIN t USING (doc_id)),
      keptpos AS (SELECT px.doc_id, px.p, px.tok FROM posx px
        WHERE NOT EXISTS (SELECT 1 FROM rem
          WHERE rem.doc_id = px.doc_id AND rem.s <= px.p AND px.p <= rem.e)),
      kept AS (SELECT doc_id,
          array_to_string(list(tok ORDER BY p), ' ') AS text_dedup,
          COUNT(*) AS nk
        FROM keptpos GROUP BY doc_id)
      SELECT t.doc_id, COALESCE(kept.text_dedup, '') AS text_dedup,
        CAST(len(t.toks) - COALESCE(kept.nk, 0) AS BIGINT) AS n_removed
      FROM t LEFT JOIN kept USING (doc_id)"""))

  /** Surgical decontamination (q62's drop-the-document rule refined to
    * span level — the GPT-3 13-gram filter shape, here 8-gram for
    * corpus-density): every 8-token span shared with the eval slice
    * (doc_id < 20) is REDACTED, the rest of the document kept; eval
    * members themselves redact to empty. The oracle reproduces window
    * hashing, the eval hash set, interval coverage, and single-space
    * reassembly; a surviving contaminated span, an over-redacted clean
    * span, or divergent tokenization all change a row and fail the
    * hash. */
  private val q252 = Q("q252_surgical_decontamination",
    (s, d) => {
      val docs = documents(s, d)
      graft.operators.TrainingData.redactEvalSpans(docs,
        docs.where(col("doc_id") < 20), "doc_id", "text", minTokens = 8)
    },
    Some("""WITH t AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents),
      w0 AS (SELECT doc_id,
          unnest(range(0, greatest(len(toks) - 7, 0))) AS pos FROM t),
      w AS (SELECT w0.doc_id, w0.pos AS pos,
          md5(array_to_string(list_slice(t.toks, w0.pos + 1, w0.pos + 8), ' ')) AS h
        FROM w0 JOIN t USING (doc_id)),
      ev AS (SELECT DISTINCT h FROM w WHERE doc_id < 20),
      rem AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM w
        WHERE h IN (SELECT h FROM ev)),
      p0 AS (SELECT doc_id, unnest(range(0, len(toks))) AS p FROM t),
      posx AS (SELECT p0.doc_id, p0.p, t.toks[p0.p + 1] AS tok
        FROM p0 JOIN t USING (doc_id)),
      keptpos AS (SELECT px.doc_id, px.p, px.tok FROM posx px
        WHERE NOT EXISTS (SELECT 1 FROM rem
          WHERE rem.doc_id = px.doc_id AND rem.s <= px.p AND px.p <= rem.e)),
      kept AS (SELECT doc_id,
          array_to_string(list(tok ORDER BY p), ' ') AS tr,
          COUNT(*) AS nk
        FROM keptpos GROUP BY doc_id)
      SELECT t.doc_id, COALESCE(kept.tr, '') AS text_redacted,
        CAST(len(t.toks) - COALESCE(kept.nk, 0) AS BIGINT) AS n_redacted
      FROM t LEFT JOIN kept USING (doc_id)"""))

  /** Persisted decontamination suite (the eval-hash store lifecycle):
    * benchmark A (doc_id < 10) bootstraps the store, benchmark B
    * (10 ≤ doc_id < 20) appends under its own source partition, then A
    * RETIRES — one manifest flip, no rewrite — and the corpus redacts
    * against what remains. The oracle is q252's protocol with the eval
    * slice narrowed to benchmark B alone: a span still suppressed by
    * the retired suite, a lost benchmark-B hash, or a stale L all
    * change a row and fail the hash. */
  private val q253 = Q("q253_eval_hash_store",
    (s, d) => {
      val dir = staged("eval_store", d) { f =>
        val docs = documents(s, d)
        graft.operators.TrainingData.saveEvalHashStore(
          docs.where(col("doc_id") < 10), "doc_id", "text",
          f.getAbsolutePath, "benchA", minTokens = 8) // v1
        graft.operators.TrainingData.appendEvalSource(
          docs.where(col("doc_id") >= 10 && col("doc_id") < 20),
          "doc_id", "text", f.getAbsolutePath, "benchB") // v2
        graft.operators.TrainingData.purgeEvalSource(s,
          f.getAbsolutePath, "benchA") // v3
      }
      graft.operators.TrainingData.redactAgainstStore(
        documents(s, d), "doc_id", "text", dir.getAbsolutePath)
    },
    Some("""WITH t AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents),
      w0 AS (SELECT doc_id,
          unnest(range(0, greatest(len(toks) - 7, 0))) AS pos FROM t),
      w AS (SELECT w0.doc_id, w0.pos AS pos,
          md5(array_to_string(list_slice(t.toks, w0.pos + 1, w0.pos + 8), ' ')) AS h
        FROM w0 JOIN t USING (doc_id)),
      ev AS (SELECT DISTINCT h FROM w
        WHERE doc_id >= 10 AND doc_id < 20),
      rem AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM w
        WHERE h IN (SELECT h FROM ev)),
      p0 AS (SELECT doc_id, unnest(range(0, len(toks))) AS p FROM t),
      posx AS (SELECT p0.doc_id, p0.p, t.toks[p0.p + 1] AS tok
        FROM p0 JOIN t USING (doc_id)),
      keptpos AS (SELECT px.doc_id, px.p, px.tok FROM posx px
        WHERE NOT EXISTS (SELECT 1 FROM rem
          WHERE rem.doc_id = px.doc_id AND rem.s <= px.p AND px.p <= rem.e)),
      kept AS (SELECT doc_id,
          array_to_string(list(tok ORDER BY p), ' ') AS tr,
          COUNT(*) AS nk
        FROM keptpos GROUP BY doc_id)
      SELECT t.doc_id, COALESCE(kept.tr, '') AS text_redacted,
        CAST(len(t.toks) - COALESCE(kept.nk, 0) AS BIGINT) AS n_redacted
      FROM t LEFT JOIN kept USING (doc_id)"""))

  /** Whole-warehouse time travel (the reference-parity fact table on
    * the manifest protocol — the LAST store with reader-visible swap
    * windows, now converted): the even half bootstraps `fact_sales`
    * (v1), the odd half appends (v2), compaction folds every
    * multi-file month behind ONE flip (v3). The query reads BOTH the
    * pre-compact pinned v2 and the compacted latest, aggregated by the
    * recovered partition columns — byte-equal aggregates because
    * compaction is content-preserving and copy-on-write never deletes
    * a retained version's files. A torn month, a compaction that
    * dropped or duplicated rows, a pin resolving the wrong file-set,
    * or partition columns lost by the manifest-resolved read all
    * change a row and fail the hash. */
  private val q254 = Q("q254_warehouse_time_travel",
    (s, d) => {
      def fact(): DataFrame = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("fact_id"),
          col("o_orderdate").as("date_id"),
          col("l_partkey").as("product_id"),
          col("l_quantity").cast("int").as("units"))
      val dir = staged("wh_tt", d) { f =>
        val fx = fact()
        graft.sources.WarehouseStore.saveFact(
          fx.where(col("fact_id") % 2 === 0), f.getAbsolutePath) // v1
        graft.sources.WarehouseStore.saveFact(
          fx.where(col("fact_id") % 2 === 1), f.getAbsolutePath,
          org.apache.spark.sql.SaveMode.Append) // v2
        graft.sources.WarehouseStore.compactFact(s, f.getAbsolutePath) // v3
      }
      def agg(df: DataFrame, tag: String): DataFrame =
        df.groupBy(col("p_year").cast("int").as("p_year"),
            col("p_month").cast("int").as("p_month"))
          .agg(count(lit(1)).as("n_rows"), sum(col("units")).as("sum_units"))
          .withColumn("src", lit(tag))
      agg(graft.sources.WarehouseStore.loadFact(s, dir.getAbsolutePath,
        asOfVersion = Some(2)), "pinned_v2")
        .unionAll(agg(graft.sources.WarehouseStore.loadFact(s,
          dir.getAbsolutePath), "latest"))
    },
    Some("""WITH fact AS (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS p_year,
          CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS p_month,
          CAST(l_quantity AS INTEGER) AS units
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      agg AS (SELECT p_year, p_month, COUNT(*) AS n_rows,
          CAST(SUM(units) AS BIGINT) AS sum_units
        FROM fact GROUP BY p_year, p_month)
      SELECT p_year, p_month, n_rows, sum_units, 'pinned_v2' AS src FROM agg
      UNION ALL
      SELECT p_year, p_month, n_rows, sum_units, 'latest' AS src FROM agg"""))

  /** Store re-bucketing (the layout-lifecycle completion): a MinHash
    * store deliberately saved with bucket counts its deltas have
    * OUTGROWN (2 band buckets — pruning can no longer win) runs the
    * bootstrap → ingest lifecycle, then
    * [[graft.operators.Dedup.rebucketMinhashStore]] rewrites all three
    * directories at 64/64 behind ONE manifest flip with a VERSIONED
    * layout. The derive over the re-bucketed store must equal one-shot
    * [[graft.operators.Dedup.minhashDuplicates]] over the full corpus
    * (q114's oracle verbatim): a pair lost or invented by the
    * re-partition, routing applied at the wrong counts, or a manifest
    * mixing old and new layouts all change a row and fail the hash. */
  private val q255 = Q("q255_minhash_rebucket",
    (s, d) => {
      val dir = staged("minhash_rebucket", d) { f =>
        val docs = documents(s, d)
        val store = s"${f.getAbsolutePath}/store"
        graft.operators.Dedup.saveMinhashStore(
          docs.where(col("doc_id") % 2 === 0), "doc_id", "text", store,
          storeBuckets = 4, bandBuckets = 2) // v1
        graft.operators.Dedup.minhashIncremental(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text", store,
          0.4, bands = 4, ngram = 3).count() // v2
        graft.operators.Dedup.rebucketMinhashStore(s, store,
          storeBuckets = 64, bandBuckets = 64) // v3
        graft.operators.Dedup.vacuumMinhashStore(s, store)
      }
      graft.operators.Dedup.derivePairsFromStore(s,
        s"${dir.getAbsolutePath}/store", 0.4)
    },
    q114.oracle)

  /** Streaming warehouse fact ingest (q254's fact protocol driven
    * through Structured Streaming — the FIFTH family's streaming row):
    * the fact rows arrive as two pinned-order micro-batches, the even
    * half bootstraps `fact_sales` (truncate-reload save, v1), the odd
    * half appends batch-tagged files behind one manifest flip (v2) via
    * [[graft.streaming.ArtifactStreams.factIngest]], and the read
    * aggregates the manifest-committed latest by the recovered
    * partition columns. The oracle is the BATCH fact built from the
    * same join — a row lost at the batch boundary, a torn append
    * leaking into the read, or a broken replay-cleanup double-counting
    * a batch all change an aggregate and fail the hash (replay
    * byte-identity is additionally spec-gated in ArtifactStreamsSpec). */
  private val q256 = Q("q256_warehouse_streaming_ingest",
    (s, d) => {
      val dir = staged("wh_stream", d) { f =>
        val fact = lineitem(s, d)
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(
            (col("l_orderkey") * 10 + col("l_linenumber")).as("fact_id"),
            col("o_orderdate").as("date_id"),
            col("l_partkey").as("product_id"),
            col("l_quantity").cast("int").as("units"))
        val stream = evenOddStream(s, new java.io.File(f, "in"), fact, "fact_id")
        Queries.withStreamingParallelism(s) {
          graft.streaming.ArtifactStreams.factIngest(stream,
            s"$f/wh", s"$f/ckpt")
        }
      }
      graft.sources.WarehouseStore.loadFact(s, s"${dir.getAbsolutePath}/wh")
        .groupBy(col("p_year").cast("int").as("p_year"),
          col("p_month").cast("int").as("p_month"))
        .agg(count(lit(1)).as("n_rows"), sum(col("units")).as("sum_units"))
    },
    Some("""WITH fact AS (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS p_year,
          CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS p_month,
          CAST(l_quantity AS INTEGER) AS units
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      SELECT p_year, p_month, COUNT(*) AS n_rows,
        CAST(SUM(units) AS BIGINT) AS sum_units
      FROM fact GROUP BY p_year, p_month"""))

  val registry: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13,
    q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25, q26,
    q27, q28, q29, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40,
    q41, q42, q43, q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54,
    q55, q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q67,
    q68, q69, q70, q71, q72, q73, q74, q75, q76, q77, q78, q79, q80,
    q81, q82, q83, q84, q85, q86, q87, q88, q89, q90, q91, q92, q93, q94,
    q95, q96, q97, q98, q99, q100, q101, q102, q103, q104, q105, q106,
    q107, q108, q109, q110, q111, q112, q113, q114, q115, q116, q117,
    q118, q119, q120, q121, q122, q123, q124, q125, q126, q127, q128,
    q129, q130, q131, q132, q133, q134, q135, q136, q137, q138, q139,
    q140, q141, q142, q143, q144, q145, q146, q147, q148, q149, q150,
    q151, q152, q153, q154, q155, q156, q157, q158, q159, q160, q161, q162,
    q163, q164, q165, q166, q167, q168, q169, q170, q171, q172, q173, q174,
    q175, q176, q177, q178, q179, q180, q181, q182, q183, q184, q185,
    q186, q187, q188, q189, q190, q191, q192, q193, q194, q195, q196,
    q197, q198, q199, q200, q201, q202, q203, q204, q205, q206, q207,
    q208, q209, q210, q211, q212, q213, q214, q215, q216, q217, q218,
    q219, q220, q221, q222, q223, q224, q225, q226, q227, q228, q229,
    q230, q231, q232, q233, q234, q235, q236, q237, q238, q239, q240,
    q241, q242, q243, q244, q245, q246, q247, q248, q249, q250, q251, q252,
    q253, q254, q255, q256)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
