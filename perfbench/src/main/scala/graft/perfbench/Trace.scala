package graft.perfbench

import scala.collection.mutable

import org.apache.spark.GraftBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it. `callSite` is Spark's short call
  * site of the action behind it, e.g. "first at Watermark.scala:28": the
  * first frame outside Spark, which is how pipeline jobs are told apart. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, callSite: String,
                        stageIds: Seq[Int])

/** Task totals of one stage attempt. */
final case class StageRec(id: Int, startMs: Long, endMs: Long, tasks: Int,
                          taskRunMs: Long, taskCpuNs: Long, gcMs: Long,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long,
                          fetchWaitMs: Long, diskSpillBytes: Long,
                          bytesWritten: Long, recordsWritten: Long,
                          taskMsMax: Long, taskMsMedian: Double)

/** One Catalyst action: phase times from `qe.tracker` and the number of
  * fixture-table file scans in its executed plan. */
final case class ActionRec(analysisMs: Long, optimizationMs: Long,
                           planningMs: Long, tableScans: Int)

/** Everything the listeners delivered between two [[Trace.take]] calls. */
final case class Delivered(jobs: Seq[JobRec], stages: Seq[StageRec],
                           actions: Seq[ActionRec], streamBatches: Int,
                           streamPlanMs: Long, streamAddBatchMs: Long)

/** Per-layer counters read from Spark's public listener APIs: a
  * `SparkListener` (jobs, stages, tasks), a `QueryExecutionListener`
  * (Catalyst phases, scans) and a `StreamingQueryListener` (micro-batch
  * progress). Registered only in traced runs. Ops run one at a time and the
  * bus is drained after each, so everything taken after an op belongs to it. */
final class Trace(spark: SparkSession, fixtureDir: String) {

  private val lock = new Object
  private val jobStarts = mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val executionSites = mutable.Map.empty[String, String]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageTotals = mutable.Map.empty[(Int, Int), Array[Long]]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val actions = mutable.ArrayBuffer.empty[ActionRec]
  private var streamBatches = 0
  private var streamPlanMs = 0L
  private var streamAddBatchMs = 0L

  private val fixtureRoot = new java.io.File(fixtureDir).getCanonicalPath + "/"

  private object Scans extends AdaptiveSparkPlanHelper {
    def count(qe: QueryExecution): Int = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(fixtureRoot)) => 1
    }.sum
  }

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        executionSites(s.executionId.toString) = s.description
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      // adaptive execution submits a query's stages as jobs of their own from
      // a thread pool; they carry the execution id of the action behind them.
      // Other jobs are named after their call site through their stages.
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val site = execution.flatMap(executionSites.get).getOrElse(
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobStarts(e.jobId) = (e.time, site, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, site, stageIds) =>
        jobs += JobRec(e.jobId, start, e.time, site, stageIds)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val key = (e.stageId, e.stageAttemptId)
      taskMs.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        val t = stageTotals.getOrElseUpdate(key, new Array[Long](9))
        t(0) += m.executorRunTime
        t(1) += m.executorCpuTime
        t(2) += m.jvmGCTime
        t(3) += m.shuffleReadMetrics.totalBytesRead
        t(4) += m.shuffleWriteMetrics.bytesWritten
        t(5) += m.shuffleReadMetrics.fetchWaitTime
        t(6) += m.diskBytesSpilled
        t(7) += m.outputMetrics.bytesWritten
        t(8) += m.outputMetrics.recordsWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val info = e.stageInfo
      val key = (info.stageId, info.attemptNumber())
      val t = stageTotals.remove(key).getOrElse(new Array[Long](9))
      val durations = taskMs.remove(key).map(_.toSeq).getOrElse(Nil)
      stages += StageRec(info.stageId,
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L),
        durations.size, t(0), t(1), t(2), t(3), t(4), t(5), t(6), t(7), t(8),
        if (durations.isEmpty) 0L else durations.max,
        if (durations.isEmpty) 0.0 else Stats.median(durations.map(_.toDouble)))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
      val rec = ActionRec(ms("analysis"), ms("optimization"), ms("planning"),
        Scans.count(qe))
      lock.synchronized { actions += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      lock.synchronized {
        streamBatches += 1
        streamPlanMs += ms("queryPlanning")
        streamAddBatchMs += ms("addBatch")
      }
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = GraftBenchBridge.drainListenerBus(spark.sparkContext)

  /** Drain the bus, then hand over and forget everything delivered so far. */
  def take(): Delivered = {
    drain()
    lock.synchronized {
      val d = Delivered(jobs.toList, stages.toList, actions.toList,
        streamBatches, streamPlanMs, streamAddBatchMs)
      jobs.clear(); stages.clear(); actions.clear(); executionSites.clear()
      streamBatches = 0; streamPlanMs = 0L; streamAddBatchMs = 0L
      d
    }
  }
}
