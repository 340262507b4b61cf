package graft

import graft.plans.DecimalSums
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** [[DecimalSums]] through Spark: every rewritten sum returns the same
  * rows and types as Spark's decimal sum (rule off), the shapes
  * outside the rule keep their plan, and a sum past the long bound fails
  * loudly instead of wrapping. */
class DecimalSumsSpec extends SparkSpec {

  private val D = DecimalType(18, 2)
  private def dec(c: String): Column = col(c).cast(D)

  /** Another suite may have built the shared session with the extensions,
    * so both sides name the rule: excluded on one, added on the other. */
  private lazy val off: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", DecimalSums.ruleName)
    s
  }
  private lazy val on: SparkSession = {
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(DecimalSums)
    s
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("g", StringType),
    StructField("x", DoubleType), StructField("y", DoubleType)))

  private def frame(s: SparkSession, rows: Seq[(Int, String, java.lang.Double,
      java.lang.Double)]): DataFrame =
    s.createDataFrame(
      s.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3, r._4)), 3),
      schema)

  /** `.xx5` halves, negatives, NULLs, and a group whose values are all
    * NULL (its sums are NULL). */
  private val rows: Seq[(Int, String, java.lang.Double, java.lang.Double)] =
    Seq[(Int, String, java.lang.Double, java.lang.Double)](
      (1, "a", 1.005, 0.045), (2, "a", 2.675, 0.055), (3, "a", -0.125, 0.1),
      (4, "a", 0.115, null), (5, "b", -1234567.895, 0.075),
      (6, "b", 98765.435, -0.005), (7, "b", null, 0.5), (8, "c", null, null),
      (9, "c", null, 0.25), (10, "d", 0.005, 0.995), (11, "d", -0.005, 0.015))

  /** `q` built in both sessions: the rule fires on one side only, and
    * both return the same schema and rows. */
  private def same(q: SparkSession => DataFrame): Seq[Row] = {
    val (a, b) = (q(off), q(on))
    assert(!a.queryExecution.optimizedPlan.toString.contains("MakeDecimal"))
    assert(b.queryExecution.optimizedPlan.toString.contains("MakeDecimal"),
      b.queryExecution.optimizedPlan)
    assert(b.schema == a.schema)
    val (ra, rb) = (a.collect().toSeq, b.collect().toSeq)
    assert(rb.map(_.toString).sorted == ra.map(_.toString).sorted)
    ra
  }

  private val sums: Seq[Column] = Seq(
    sum(dec("x")).as("s"),
    sum(dec("x") * dec("y")).as("xy"),
    sum(dec("x") * (lit(1).cast(D) - dec("y"))).as("disc"),
    sum(dec("x") + dec("y")).as("plus"),
    sum(dec("x") - lit(BigDecimal("0.5")).cast(D) + dec("y")).as("lit"),
    sum(dec("x") * dec("y") * dec("x")).as("xyx"))

  test("grouped sums: halves, negatives, NULLs and an all-NULL group " +
    "match Spark's decimal sums exactly") {
    val got = same(frame(_, rows).groupBy("g").agg(sums.head, sums.tail: _*))
    assert(got.size == 4)
    val c = got.find(_.getString(0) == "c").get
    assert(c.isNullAt(1) && c.isNullAt(2), c)
    val a = got.find(_.getString(0) == "a").get
    // 1.01 + 2.68 - 0.13 + 0.12 (HALF_UP casts of the doubles)
    assert(a.getDecimal(1) == new java.math.BigDecimal("3.68"), a)
  }

  test("a global sum over no rows is NULL, as Spark's") {
    val got = same(frame(_, rows).where(col("id") < 0)
      .agg(sums.head, sums.tail: _*))
    assert(got.size == 1 && (0 until sums.size).forall(got.head.isNullAt), got)
  }

  test("window sums (running and partition-wide) match") {
    val w = Window.partitionBy("g").orderBy("id")
    same(frame(_, rows).select(col("id"),
      sum(dec("x")).over(w).as("run"),
      sum(dec("x") * dec("y")).over(Window.partitionBy("g")).as("tot")))
  }

  test("NaN and Infinity: the cast behaves the same on both sides") {
    // the cast runs as written under the rule: Spark 4.1 turns a NaN or
    // infinite double into a NULL decimal (no error, ANSI or not), so
    // the group's sum skips the row on both sides
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)) {
      val got = same(frame(_, rows :+ ((12, "a", bad: java.lang.Double,
        1.0: java.lang.Double))).groupBy("g")
        .agg(sum(dec("x") * dec("y")).as("xy"), sum(dec("x")).as("s")))
      val a = got.find(_.getString(0) == "a").get
      assert(a.getDecimal(2) == new java.math.BigDecimal("3.68"), s"$bad: $a")
    }
  }

  test("SUM(DISTINCT), try_sum, a filtered sum, a precision > 18 term and a " +
    "mixed-scale term keep Spark's decimal sum") {
    val df = frame(on, rows).groupBy("g").agg(
      sum_distinct(dec("x")).as("d"),
      try_sum(dec("x")).as("try"),
      sum(col("x").cast(DecimalType(20, 2))).as("wide"),
      sum(dec("x") - dec("y") * dec("y")).as("mixed"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("UnscaledValue") && !plan.contains("MakeDecimal"),
      plan)
    frame(on, rows).createOrReplaceTempView("t")
    val fplan = on.sql(
      "SELECT g, SUM(CAST(x AS DECIMAL(18,2))) FILTER (WHERE y > 0) FROM t " +
        "GROUP BY g").queryExecution.optimizedPlan.toString
    assert(!fplan.contains("MakeDecimal"), fplan)
  }

  test("near the long bound: sums that fit match; one past 2^63 " +
    "unscaled raises ARITHMETIC_OVERFLOW instead of wrapping") {
    // DECIMAL(18,2)'s largest values, 9.9e15 (unscaled 9.9e17)
    val big = 9.9e15
    val fits = (1 to 9).map(i => (i, "a", big: java.lang.Double,
      1.0: java.lang.Double))
    val sum9 = same(frame(_, fits).groupBy("g").agg(sum(dec("x")).as("s")))
    assert(sum9.head.getDecimal(1) ==
      new java.math.BigDecimal("89100000000000000.00"), sum9)
    // ten of them: unscaled 9.9e18 > 2^63 - 1, while the DECIMAL(28,2)
    // sum (9.9e16) is well inside its precision
    val over = (s: SparkSession) => frame(s, fits :+ ((10, "a",
      big: java.lang.Double, 1.0: java.lang.Double)))
    val q = (df: DataFrame) => df.groupBy("g").agg(sum(dec("x")).as("s"))
    assert(q(over(off)).collect().head.getDecimal(1) ==
      new java.math.BigDecimal("99000000000000000.00"))
    val e = intercept[Throwable](q(over(on)).collect())
    assert(condition(throw e) == "ARITHMETIC_OVERFLOW", e)
    assert(chain(e).exists(t => String.valueOf(t.getMessage)
      .contains("ARITHMETIC_OVERFLOW")), e)
    // a product past the bound: 1e15 * 1e3 is 1e22 unscaled at scale 4
    val prod = (s: SparkSession) => frame(s,
      Seq((1, "a", 1e15: java.lang.Double, 1e3: java.lang.Double)))
    val pq = (df: DataFrame) => df.agg(sum(dec("x") * dec("y")))
    assert(pq(prod(off)).collect().head.getDecimal(0) ==
      new java.math.BigDecimal("1000000000000000000.0000"))
    assert(condition(pq(prod(on)).collect()) == "ARITHMETIC_OVERFLOW")
  }

  test("q01, q03, q27 and q30 return the same rows with the rule on") {
    val sf = "/root/testdata/sf0.001"
    for (name <- Seq("q01_pricing_summary", "q03_topk_parts", "q27_dow_trend",
      "q30_pushdown_scan")) {
      val rows = same(Queries.queries(name)(_, sf))
      assert(rows.nonEmpty, name)
    }
  }

  private def chain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  /** The error condition of the first Spark error in the cause chain. */
  private def condition(body: => Any): String =
    chain(intercept[Throwable](body)).collectFirst {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.getOrElse("")
}
