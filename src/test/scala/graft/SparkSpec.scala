package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-test-wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    val bridge = org.apache.spark.sql.graftbridge.ListenerBridge
    bridge.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      bridge.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    n.get()
  }
}
