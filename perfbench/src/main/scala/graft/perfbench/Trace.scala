package graft.perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed phase of one query run, in wall-clock milliseconds (the clock
  * Spark stamps its job events with). */
final case class PhaseSpan(pass: Int, query: String, phase: String, startMs: Long, endMs: Long) {
  def id: String = s"p$pass/$query/$phase"
}

/** Task counters summed over one stage's finished tasks. */
final class TaskSums {
  var tasks = 0L
  var cpuNs, runMs, deserMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, inBytes, inRecords, outBytes = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime; runMs += m.executorRunTime
    deserMs += m.executorDeserializeTime; gcMs += m.jvmGCTime
    shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spill += m.diskBytesSpilled
    inBytes += m.inputMetrics.bytesRead; inRecords += m.inputMetrics.recordsRead
    outBytes += m.outputMetrics.bytesWritten
  }
  def add(o: TaskSums): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs; deserMs += o.deserMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    inBytes += o.inBytes; inRecords += o.inRecords; outBytes += o.outBytes
  }
}

final case class JobRec(id: Int, startMs: Long, endMs: Long, stages: Seq[Int])
final case class DrainRec(id: String, startMs: Long, endMs: Long)
final case class BatchRec(drain: String, batchId: Long, startMs: Long, durationMs: Map[String, Long])

/** The traced run's probes, attached from outside the program: a Spark
  * listener for jobs, stages and task metrics, and a streaming listener for
  * every drain's lifetime and every micro-batch's `durationMs`. Events are
  * kept in memory and handed out, one pass at a time, by [[take]]. */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val jobStarts = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageSums = mutable.Map.empty[Int, TaskSums]
  private val drainStarts = mutable.Map.empty[String, Long]
  private val drains = mutable.ArrayBuffer.empty[DrainRec]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
      jobStarts(j.jobId) = (j.time, j.stageIds)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(j.jobId).foreach { case (t0, st) => jobs += JobRec(j.jobId, t0, j.time, st) }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) lock.synchronized {
        stageSums.getOrElseUpdate(t.stageId, new TaskSums).add(t.taskMetrics)
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = lock.synchronized {
      drainStarts(e.runId.toString) = System.currentTimeMillis()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      import scala.jdk.CollectionConverters._
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches += BatchRec(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, d)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = lock.synchronized {
      val id = e.runId.toString
      drainStarts.remove(id).foreach(t0 => drains += DrainRec(id, t0, System.currentTimeMillis()))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Everything recorded since the last call, once the listener bus has
    * delivered every event posted so far. */
  def take(): (Seq[JobRec], Map[Int, TaskSums], Seq[DrainRec], Seq[BatchRec]) = {
    BusDrain(spark.sparkContext)
    lock.synchronized {
      val out = (jobs.toSeq, stageSums.toMap, drains.toSeq, batches.toSeq)
      jobs.clear(); stageSums.clear(); drains.clear(); batches.clear()
      out
    }
  }
}

object Trace {
  /** The phase a job ran under: the earliest phase that contains its
    * submission time and outlasts its end (a job ends inside the phase that
    * waited for it). Jobs that match none, such as work a program thread
    * started after its query returned, are `other`. */
  def phaseOf(startMs: Long, endMs: Long, phases: Seq[PhaseSpan]): Option[PhaseSpan] =
    phases.find(p => p.startMs <= startMs && startMs <= p.endMs && endMs <= p.endMs)
      .orElse(phases.find(p => p.startMs <= startMs && startMs <= p.endMs))

  /** Milliseconds of `[s, e]` covered by the union of `ivs`. */
  def covered(s: Long, e: Long, ivs: Seq[(Long, Long)]): Long = {
    var end = s
    var total = 0L
    ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}
