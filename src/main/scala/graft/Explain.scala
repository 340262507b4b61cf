package graft
import org.apache.spark.sql.execution.SQLExecution

/** Plan-inspection utility: runs each named query once, then prints its
  * formatted physical plan — the AQE-final plan, so runtime exchange and
  * stage reuse are visible (dev tool; also handy evidence for scale
  * reviews). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // Drain the query's OWN QueryExecution like a noop sink: a noop write
      // would plan a separate one and leave this plan's AQE un-finalized
      val qe = df.queryExecution
      SQLExecution.withNewExecutionId(qe, Some(s"explain $name"))(
        qe.toRdd.foreach(_ => ()))
      println(s"\n========== $name ==========")
      df.explain("formatted")
    }
    spark.stop()
  }
}
