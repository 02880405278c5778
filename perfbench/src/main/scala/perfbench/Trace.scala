package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job: wall interval, the op/phase tags it carried, whether it
  * ran inside a streaming micro-batch, and its stages' call sites. */
final case class JobRec(start: Long, end: Long, tags: Set[String],
                        inBatch: Boolean, stages: Seq[Int], callSites: String)
final case class StageRec(id: Int, tasks: Int, runMs: Long, cpuNs: Long,
                          gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
                          spill: Long)
/** One SQL execution (an action): wall interval and the directory it
  * wrote, if any. */
final case class ExecRec(start: Long, end: Long, outDir: Option[String])
/** One streaming micro-batch's progress: trigger start and phase times. */
final case class BatchRec(start: Long, durationsMs: Map[String, Long],
                          rows: Long)

/** The traced run's recorders: a SparkListener (jobs, stages, SQL
  * executions and their write targets), a StreamingQueryListener
  * (micro-batch progress) and a QueryExecutionListener (Catalyst phases),
  * plus codegen counters. Events are kept in memory; [[harvest]] drains the listener
  * bus and hands back everything recorded since the previous harvest. */
final class Tracer(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val execs = new ConcurrentLinkedQueue[ExecRec]()
  // Catalyst phase durations (ms) of each action, from the QueryExecutionListener
  private val actions = new ConcurrentLinkedQueue[Map[String, Long]]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val openJobs = new ConcurrentHashMap[Int, JobRec]()
  private val openExecs = new ConcurrentHashMap[Long, (Long, Option[String])]()
  // a file write's formatted plan: "Arguments: file:/out/dir, ..." (scans
  // list their paths under "Location:")
  private val writeTarget = """Arguments: file:(/[^,\s]+)""".r

  private val sparkListener = new SparkListener {
    override def onJobStart(ev: SparkListenerJobStart): Unit = {
      val props = Option(ev.properties)
      val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(',').filter(_.nonEmpty).toSet).getOrElse(Set.empty)
      val inBatch = props.exists(_.getProperty("streaming.sql.batchId") != null)
      openJobs.put(ev.jobId, JobRec(ev.time, -1L, tags, inBatch,
        ev.stageIds, ev.stageInfos.map(s => Option(s.details).getOrElse(""))
          .mkString("\n")))
    }
    override def onJobEnd(ev: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(ev.jobId)).foreach(j => jobs.add(j.copy(end = ev.time)))
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val si = ev.stageInfo
      Option(si.taskMetrics).foreach { tm =>
        stages.add(StageRec(si.stageId, si.numTasks, tm.executorRunTime,
          tm.executorCpuTime, tm.jvmGCTime,
          tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten,
          tm.memoryBytesSpilled + tm.diskBytesSpilled))
      }
    }
    override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
      case s: SparkListenerSQLExecutionStart =>
        val out = writeTarget.findFirstMatchIn(s.physicalPlanDescription)
          .map(m => new java.io.File(m.group(1)).getName)
        openExecs.put(s.executionId, (s.time, out))
      case e: SparkListenerSQLExecutionEnd =>
        Option(openExecs.remove(e.executionId)).foreach { case (t0, out) =>
          execs.add(ExecRec(t0, e.time, out)) }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(ev: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(ev: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(ev: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = ev.progress
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      actions.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Everything recorded since the previous harvest. */
  def harvest(): Events = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    def take[T](q: ConcurrentLinkedQueue[T]): Vector[T] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toVector
    Events(take(jobs), take(stages), take(execs), take(actions), take(batches))
  }
}

final case class Events(jobs: Vector[JobRec], stages: Vector[StageRec],
                        execs: Vector[ExecRec], actions: Vector[Map[String, Long]],
                        batches: Vector[BatchRec]) {
  def jobsTagged(tag: String): Vector[JobRec] = jobs.filter(_.tags(tag))
  def stagesOf(js: Seq[JobRec]): Vector[StageRec] = {
    val ids = js.flatMap(_.stages).toSet
    stages.filter(s => ids(s.id))
  }
}

object Trace {
  /** Codegen counters are process-wide: (compiles, compile ns). */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  def coveredMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    total + (curB - curA)
  }

  /** Scheduler and executor layer over one op's jobs. */
  def schedulerLayer(ev: Events, js: Seq[JobRec], t0: Long, t1: Long): Map[String, Double] = {
    val st = ev.stagesOf(js)
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.executor_run_s" -> st.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.shuffle_read_mb" -> st.map(_.shuffleRead).sum / mb,
      "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / mb,
      "spark.spill_mb" -> st.map(_.spill).sum / mb,
      "spark.job_gap_s" ->
        ((t1 - t0) - coveredMs(js.map(j => (j.start, j.end)), t0, t1)) / 1e3)
  }

  /** Catalyst phases summed over the given actions' query executions. */
  def catalystLayer(phases: Seq[Map[String, Long]]): Map[String, Double] =
    Seq("analysis", "optimization", "planning").map { p =>
      s"catalyst.${p}_s" -> phases.map(_.getOrElse(p, 0L)).sum / 1e3
    }.toMap
}
