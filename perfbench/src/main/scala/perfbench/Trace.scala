package perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What Spark did during one timed op (a fit or a gate call). */
final case class Span(
    wallS: Double, jobs: Int, stages: Int, tasks: Long, jobBusyS: Double,
    taskRunS: Double, taskCpuS: Double, gcS: Double, shuffleWriteMb: Double,
    shuffleReadMb: Double, spillMb: Double, peakExecMemMb: Double,
    resultMb: Double, planS: Double, codegenCompiles: Long,
    streamBatches: Int, streamBatchS: Double, stateCommitS: Double) {
  def driverGapS: Double = wallS - jobBusyS
}

/** Counts the Spark jobs each op submits. Always attached: the job count
  * is how a repeat op that skipped work (a cache hit) is told apart from a
  * real one, and one counter per job start costs nothing measurable.
  */
final class JobCounter extends SparkListener {
  private val n = new java.util.concurrent.atomic.AtomicInteger
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    n.incrementAndGet(); ()
  }
  def count: Int = n.get
}

/** The traced run's collector: task metrics, job intervals, stages,
  * QueryExecution phase times and streaming progress, accumulated between
  * `begin` and `end`. Attached only while a traced op runs.
  */
final class Collector(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var jobs, stages, batches = 0
  private var tasks = 0L
  private var runMs, resultB, writeB, readB, spillB = 0L
  private var cpuNs, peakB = 0L
  private var planMs, batchMs, commitMs = 0L

  private val sparkL = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        tasks += 1
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        resultB += m.resultSize
        writeB += m.shuffleWriteMetrics.bytesWritten
        readB += m.shuffleReadMetrics.totalBytesRead
        spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        peakB = math.max(peakB, m.peakExecutionMemory)
      }
    }
  }
  private val qeL = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized {
        planMs += qe.tracker.phases.values
          .map(p => p.endTimeMs - p.startTimeMs).sum
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
    : Unit = ()
  }
  private val streamL = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
    : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      batches += 1
      batchMs += Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      commitMs += p.stateOperators.map(_.commitTimeMs).sum
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  private var t0, gc0, cg0 = 0L

  def begin(): Unit = {
    Bus.drain(sc)
    synchronized {
      jobStart.clear(); intervals.clear()
      jobs = 0; stages = 0; batches = 0; tasks = 0
      runMs = 0; resultB = 0; writeB = 0; readB = 0; spillB = 0
      cpuNs = 0; peakB = 0; planMs = 0; batchMs = 0; commitMs = 0
    }
    sc.addSparkListener(sparkL)
    spark.listenerManager.register(qeL)
    spark.streams.addListener(streamL)
    gc0 = gcMs; cg0 = Bus.codegenCompiles
    t0 = System.nanoTime()
  }

  def end(): Span = {
    val t1 = System.nanoTime()
    Bus.drain(sc)
    sc.removeSparkListener(sparkL)
    spark.listenerManager.unregister(qeL)
    spark.streams.removeListener(streamL)
    val wallMs = (t1 - t0) / 1e6
    val mb = 1024.0 * 1024.0
    synchronized {
      Span(wallMs / 1e3, jobs, stages, tasks, unionMs(intervals.toSeq) / 1e3,
        runMs / 1e3, cpuNs / 1e9, (gcMs - gc0) / 1e3, writeB / mb,
        readB / mb, spillB / mb, peakB / mb, resultB / mb, planMs / 1e3,
        Bus.codegenCompiles - cg0, batches, batchMs / 1e3, commitMs / 1e3)
    }
  }

  /** Length of the union of [start, end] job intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
