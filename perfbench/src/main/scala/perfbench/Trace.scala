package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region: an operation (`op`) or one of its phases (`build`,
  * `exec`, `sink`). `parent` is the id of the enclosing span, -1 at
  * the top; `opId` is shared by an operation and its phases. */
final case class Span(id: Int, name: String, parent: Int, opId: Int,
    pass: Int, op: String, startMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Spark's public listener APIs, recording what each operation ran.
  * Jobs carry the local properties the runner sets around each phase
  * ([[Trace.OpKey]], [[Trace.PhaseKey]]); stages and tasks are tied to
  * an operation through their job. A plan is reported after its
  * execution's jobs, on the same listener queue, before any job of the
  * next operation starts: it belongs to the operation of the last job
  * seen. Streaming batches belong to the operation whose span holds
  * their trigger time.
  * Everything is kept in memory and aggregated after the run. */
final class Trace(spark: SparkSession) {
  import Trace._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  @volatile private var lastOpId = -1
  @volatile private var fenceSeen = Set.empty[String]
  private val streamsStarted = new java.util.concurrent.atomic.AtomicInteger()
  private val streamsEnded = new java.util.concurrent.atomic.AtomicInteger()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      prop(FenceKey).foreach(f => fenceSeen += f)
      val opId = prop(OpKey).map(_.toInt).getOrElse(-1)
      if (opId >= 0) lastOpId = opId
      if (prop(FenceKey).isEmpty) {
        jobs.add(JobRec(e.jobId, opId, prop(PhaseKey).getOrElse("")))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && stageJob.containsKey(e.stageId)) {
        tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (stageJob.containsKey(i.stageId))
        stages.add(StageRec(i.stageId, stageJob.get(i.stageId),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      def ms(phase: String) = qe.tracker.phases.get(phase)
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val nodes = planNodes(qe.executedPlan)
      plans.add(PlanRec(lastOpId, ms("analysis"), ms("optimization"),
        ms("planning"), nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[BroadcastExchangeLike])))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.commitTimeMs).sum, p.runId.toString))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded.incrementAndGet()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the listener bus has delivered every event posted so
    * far: a tiny fence job's start event arrives after all earlier
    * events on the same queue; streaming events are complete once every
    * started query has reported its termination. */
  def drain(timeoutMs: Long = 30000L): Unit = {
    val tag = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    sc.setLocalProperty(FenceKey, tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceKey, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((!fenceSeen(tag) || streamsEnded.get < streamsStarted.get) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

object Trace {
  final case class JobRec(jobId: Int, opId: Int, phase: String)
  final case class StageRec(stageId: Int, jobId: Int, submitMs: Long, endMs: Long)
  final case class TaskRec(stageId: Int, durMs: Long, inBytes: Long,
      inRows: Long, shWrite: Long, shRead: Long, spill: Long)
  final case class PlanRec(opId: Int, analysisMs: Double,
      optimizerMs: Double, planningMs: Double, exchanges: Int, broadcasts: Int)
  final case class BatchRec(tsMs: Long, durations: Map[String, Long],
      stateRows: Long, stateCommitMs: Long, queryRunId: String)

  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val FenceKey = "perfbench.fence"

  /** Every node of an executed plan, looking through adaptive plans
    * (their final plan) and query stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
