package graft

import org.apache.spark.GraftListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

/** `Harness profile` reads its listener's table right after the profiled
  * run; the bridge must hold it until the bus has delivered every event. */
class ListenerBusBridgeSpec extends AnyFunSuite with SparkSpec {

  test("waitUntilEmpty returns only after a slow listener has seen the job's end") {
    val sc = spark.sparkContext
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val slow = new SparkListener {
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Thread.sleep(300)
        ended.add(j.jobId): Unit
      }
    }
    val group = "listener-bus-bridge-spec"
    sc.addSparkListener(slow)
    try {
      sc.setJobGroup(group, group)
      try sc.parallelize(1 to 10, 2).count()
      finally sc.clearJobGroup()
      GraftListenerBusBridge.waitUntilEmpty(sc)
      val jobs = sc.statusTracker.getJobIdsForGroup(group).toSeq
      assert(jobs.nonEmpty, "the job's events reached the status store")
      assert(jobs.forall(ended.contains), s"jobs $jobs, slow listener saw $ended")
    } finally sc.removeSparkListener(slow)
  }
}
