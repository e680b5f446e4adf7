package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-JVM base for all specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started by `body` on this thread (counted by job group). */
  def jobsIn(body: => Unit): Int = {
    val group = s"spec-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "spec job count")
      try body finally spark.sparkContext.clearJobGroup()
      // the listener bus is asynchronous: wait until the count settles
      var last = -1
      while (last != jobs.get) { last = jobs.get; Thread.sleep(500) }
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local("4")
}
