package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span of the benchmark's own calls, keyed by workload and
  * job id. `parent` names the enclosing span ("" at the top). */
final case class Span(workload: String, job: Int, name: String, parent: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String =
    s"""{"workload":"$workload","job":$job,"name":"$name","parent":"$parent",""" +
      s""""start_ns":$startNs,"end_ns":$endNs}"""
}

/** Engine counters seen from outside the engine: a SparkListener and a
  * QueryExecutionListener that the benchmark registers on the session,
  * plus the JVM's GC and heap-pool beans. Nothing here touches the
  * engine's code; it only reads what Spark reports for every action. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
    taskCpuNs: Long, schedDelayMs: Long, serialStageMs: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, planNs: Long, exchanges: Long,
    stagedReads: Long, gcMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    failedTasks - o.failedTasks, taskCpuNs - o.taskCpuNs, schedDelayMs - o.schedDelayMs,
    serialStageMs - o.serialStageMs, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes, planNs - o.planNs,
    exchanges - o.exchanges, stagedReads - o.stagedReads, gcMs - o.gcMs)
}

final class Tracer(spark: SparkSession, workload: String, stageRoot: String) {
  private val jobs, stages, tasks, failed, cpu, sched, serial, shw, shr, spill, plan, exch,
    staged = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val i = e.stageInfo
      if (i.numTasks == 1)
        for (s <- i.submissionTime; d <- i.completionTime) serial.addAndGet(d - s)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (!e.taskInfo.successful) failed.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpu.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
        shw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
        // Spark UI's scheduler delay: task duration not spent running,
        // deserializing or shipping the result
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        sched.addAndGet(math.max(0L, e.taskInfo.duration - busy - e.taskInfo.gettingResultTime))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      plan.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum * 1000000L)
      val leaves = Tracer.nodes(qe.executedPlan)
      exch.addAndGet(leaves.count(_.isInstanceOf[ShuffleExchangeLike]).toLong)
      staged.addAndGet(leaves.collect { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString) }.flatten
        .count(_.contains(stageRoot)).toLong)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val spanBuf = ArrayBuffer.empty[Span]
  @volatile var job: Int = 0
  @volatile private var attached = false

  def attach(): Unit = {
    attached = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(): Unit = org.apache.spark.BenchListenerBus.drain(spark.sparkContext)

  def counters(): Counters = {
    drain()
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    Counters(jobs.get, stages.get, tasks.get, failed.get, cpu.get, sched.get, serial.get,
      shw.get, shr.get, spill.get, plan.get, exch.get, staged.get, gc)
  }

  /** Time `body` as a span when attached; otherwise just run it. */
  def span[A](name: String, parent: String = "")(body: => A): A =
    if (!attached) body else {
    val t0 = System.nanoTime()
    try body
    finally {
      val s = Span(workload, job, name, parent, t0, System.nanoTime())
      spanBuf.synchronized(spanBuf += s)
    }
  }

  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)
}

object Tracer {
  private object Walk extends AdaptiveSparkPlanHelper

  /** Every node of an executed plan, through adaptive query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = Walk.collectWithSubqueries(p) { case n => n }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MB. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
