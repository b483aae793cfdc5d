package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for Spark-level specs (one JVM-wide session — Spark
  * getOrCreate makes reuse across suites safe and keeps the suite fast). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // session shared across suites; sbt JVM exit cleans up

  /** The Spark jobs `body` starts. */
  protected def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.TestListenerBus.drain(sc) } finally sc.removeSparkListener(l)
    jobs.get
  }
}

object SparkTestBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
