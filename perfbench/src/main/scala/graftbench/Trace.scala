package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: `op` is the id of the outermost span of the call
  * stack it ran under (the benchmark operation it belongs to). Times are
  * epoch milliseconds, the clock Spark's listener events use. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark job as seen by the listener: its job group names the span whose
  * thread submitted it. */
final case class JobRec(jobId: Int, group: Option[String], start: Double, end: Double,
    stages: Seq[Int])

/** Aggregated task metrics of one completed stage attempt. */
final case class StageRec(stageId: Int, tasks: Int, runMs: Double, cpuMs: Double,
    gcMs: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long, inputRecords: Long)

/** Records spans from outside the engine: each call the benchmark makes
  * runs under a Spark job group named after its span, so the listener's
  * jobs and stages attribute to it. Disabled, `span` only runs the body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(1)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = ids.getAndIncrement()
      val outer = stack.get
      val op = outer.headOption.map(_._2).getOrElse(id)
      stack.set((id, op) :: outer)
      sc.setJobGroup(Tracer.group(id), s"$layer.$name", interruptOnCancel = false)
      val t0 = now
      try body
      finally {
        done.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), op, layer, name, t0, now))
        stack.set(outer)
        outer.headOption match {
          case Some((pid, _)) => sc.setJobGroup(Tracer.group(pid), "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Vector[Span] = done.asScala.toVector.sortBy(_.id)
}

object Tracer {
  def group(spanId: Long): String = s"graftbench-span-$spanId"
  def spanOf(group: String): Option[Long] =
    if (group.startsWith("graftbench-span-")) Some(group.stripPrefix("graftbench-span-").toLong)
    else None
}

/** The benchmark's own listeners: jobs, stages and per-action Catalyst
  * phase times, kept in memory until [[Collector.drain]]. */
final class Collector(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobStarts = new ConcurrentHashMap[Int, (Option[String], Double, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val submitted = new AtomicLong(0)
  /** (analysis, optimization, planning) ms per action. */
  private val phases = new ConcurrentLinkedQueue[(Double, Double, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobStarts.put(e.jobId, (g, e.time.toDouble, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (g, t0, st) =>
      jobs.add(JobRec(e.jobId, g, t0, e.time.toDouble, st))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = submitted.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    stages.add(
      if (tm == null) StageRec(si.stageId, si.numTasks, 0, 0, 0, 0, 0, 0, 0)
      else StageRec(si.stageId, si.numTasks, tm.executorRunTime.toDouble,
        tm.executorCpuTime / 1e6, tm.jvmGCTime.toDouble,
        tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
        tm.memoryBytesSpilled + tm.diskBytesSpilled, tm.inputMetrics.recordsRead))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    phases.add((ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Waits until every started job and submitted stage has reported its
    * end (the listener bus is asynchronous), then unregisters. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var lastPhases = -1
    while (System.currentTimeMillis() < deadline &&
        !(jobStarts.isEmpty && stages.size >= submitted.get && phases.size == lastPhases)) {
      lastPhases = phases.size
      Thread.sleep(200)
    }
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def jobList: Vector[JobRec] = jobs.asScala.toVector
  def stageList: Vector[StageRec] = stages.asScala.toVector
  def phaseList: Vector[(Double, Double, Double)] = phases.asScala.toVector
}

/** Heap high-water mark over a window, from the JVM's memory pools. */
object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
