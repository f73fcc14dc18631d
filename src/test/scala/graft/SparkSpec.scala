package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session, so the whole `sbt test` run pays startup once). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"

  /** Run `f` and count the Spark jobs it submits. Only jobs carrying
    * this call's tag (a thread-local property Spark propagates to the
    * threads that submit on a query's behalf) count, so a concurrent
    * suite's jobs never leak in; the listener bus is drained before
    * the count is read. */
  def jobsOf[T](f: => T): (T, Int) = {
    val key = "graft.spec.jobs"
    val tag = s"jobs-${SparkSpec.tags.incrementAndGet()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, tag)
    try {
      val out = f
      GraftBridge.waitListenerBus(spark, 30000)
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  private val tags = new AtomicInteger()

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
