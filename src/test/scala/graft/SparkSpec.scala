package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** One shared tuned session across all suites (sbt runs suites in a single
  * forked JVM; re-creating SparkContexts per suite dominates test time). */
trait SparkSpec { self: Suite =>
  lazy val spark: SparkSession = SparkSpec.session

  /** The jobs started while `build` runs, counted once the listener bus
    * has delivered every event. */
  protected def jobsDuring[T](build: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftListenerBusBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = build
      GraftListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
