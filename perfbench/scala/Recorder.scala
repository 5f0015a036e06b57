package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** One finished task. */
final case class TaskRec(jobId: Int, cpuNs: Long, runMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, gcMs: Long, peakMem: Long)

/** One job: its description (the engine tags jobs `<table> fused-stats`,
  * `<table> drift-batch`, `<table> rule:<name>`), start/end and task count. */
final class JobRec(val jobId: Int, val desc: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks: Int = 0
}

/** SQL metrics of one executed query, read from its physical plan. */
final case class QueryRec(filesSize: Long, scans: Int, sorts: Int,
    buildMs: Long, sortMs: Long)

/** Everything the listeners saw between two drain points. */
final case class Window(tasks: Seq[TaskRec], jobs: Seq[JobRec], queries: Seq[QueryRec]) {
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def shuffleWriteMb: Double = tasks.map(_.shuffleWrite).sum / 1e6
  def peakTaskMemMb: Double = if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / 1e6
  def scanMb: Double = queries.map(_.filesSize).sum / 1e6
  def gcMs: Long = tasks.map(_.gcMs).sum
  def spillMb: Double = tasks.map(_.spill).sum / 1e6
}

/** Benchmark-side listeners: a SparkListener that keeps every task and job,
  * and a QueryExecutionListener that reads each executed plan's SQL metrics
  * (scan `filesSize`, sort time, hash-join build time). Both append to
  * buffers; [[mark]] and [[since]] cut the buffers at drain points, so a
  * window holds exactly the events of the calls made between the marks. */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val queries = ArrayBuffer.empty[QueryRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val jobById = scala.collection.mutable.HashMap.empty[Int, JobRec]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    val j = new JobRec(e.jobId, desc, e.time)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val job = stageJob.getOrElse(e.stageId, -1)
      jobById.get(job).foreach(_.tasks += 1)
      tasks += TaskRec(job, m.executorCpuTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val rec = planMetrics(qe.executedPlan)
    synchronized { queries += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Scan bytes, scan/sort counts and build/sort times of one plan. Cached
    * relations are entered once per plan instance, so a cache that several
    * queries read is counted where it is built. */
  private val seenCached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private def planMetrics(root: SparkPlan): QueryRec = {
    var files = 0L; var scans = 0; var sorts = 0; var build = 0L; var sortMs = 0L
    def visit(plan: SparkPlan): Unit = collectWithSubqueries(plan) { case p => p }.foreach { p =>
      val m = p.metrics
      if (p.nodeName.startsWith("Scan") && !p.isInstanceOf[InMemoryTableScanExec]) {
        scans += 1
        files += m.get("filesSize").map(_.value).getOrElse(0L)
      }
      if (p.nodeName == "Sort") {
        sorts += 1
        sortMs += m.get("sortTime").map(_.value).getOrElse(0L)
      }
      build += m.get("buildTime").map(_.value).getOrElse(0L)
      p match {
        case c: InMemoryTableScanExec =>
          val cached = c.relation.cachedPlan
          if (seenCached.add(cached)) visit(cached)
        case _ =>
      }
    }
    visit(root)
    QueryRec(files, scans, sorts, build, sortMs)
  }

  final case class Mark(tasks: Int, jobs: Int, queries: Int)

  def mark(): Mark = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized(Mark(tasks.size, jobs.size, queries.size))
  }

  def since(m: Mark): Window = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized(Window(tasks.slice(m.tasks, tasks.size).toVector,
      jobs.slice(m.jobs, jobs.size).toVector,
      queries.slice(m.queries, queries.size).toVector))
  }
}
