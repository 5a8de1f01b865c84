package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own call tree (setup, pass,
  * query, operators.build, sink.run, an ingest step), in epoch millis —
  * the clock Spark stamps its listener events with. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
  def covers(t: Long): Boolean = t >= start && t <= end
}

final case class JobRec(id: Int, name: String, start: Long, end: Long, stages: Seq[Int])

final case class StageRec(id: Int, name: String, start: Long, end: Long)

final case class TaskRec(stage: Int, launch: Long, finish: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long,
                         inBytes: Long, inRows: Long, outBytes: Long,
                         shWrite: Long, shRead: Long, shWriteRecs: Long,
                         shReadRecs: Long, fetchWaitMs: Long,
                         spillDisk: Long, spillMem: Long, peakExec: Long)

/** Planner phase times of one executed plan, from the plan's own
  * QueryPlanningTracker. */
final case class PlanRec(start: Long, analysisMs: Long, optimizeMs: Long,
                         physicalMs: Long)

/** Collects Spark's job, stage and task events and each executed
  * plan's planner phases, through Spark's public SparkListener and
  * QueryExecutionListener interfaces. Nothing in graft is changed or
  * called; events are attributed to the benchmark's spans afterwards,
  * by timestamp (one client runs one call at a time).
  *
  * [[attach]] and [[detach]] switch the listeners on and off between
  * calls, so that one run can time the same work traced and untraced. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobStarts = ArrayBuffer.empty[(Int, String, Long, Seq[Int])]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val stageRecs = ArrayBuffer.empty[StageRec]
  private val taskRecs = ArrayBuffer.empty[TaskRec]
  private val planRecs = ArrayBuffer.empty[PlanRec]
  private val fenceStages = scala.collection.mutable.Set.empty[Int]

  private val fence = new Fence
  private var attached = false

  /** Registers the tracer with a new session; call once, before any job. */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(fence)
    attach(spark)
  }

  /** Starts listening. Events of jobs that ran while detached are
    * delivered before this returns, so none of them is recorded. */
  def attach(spark: SparkSession): Unit = if (!attached) {
    fence.await(spark.sparkContext)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  /** Stops listening, once every event posted so far is recorded. */
  def detach(spark: SparkSession): Unit = if (attached) {
    fence.await(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Fence.of(e)) fenceStages ++= e.stageIds
    else {
      // a job is named after its call site, which Spark gives its final stage
      val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobStarts += ((e.jobId, name, e.time, e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      if (i.submissionTime.isDefined && i.completionTime.isDefined && !fenceStages(i.stageId))
        stageRecs += StageRec(i.stageId, i.name, i.submissionTime.get, i.completionTime.get)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized {
      if (!fenceStages(e.stageId)) {
      val m = e.taskMetrics
      val sr = m.shuffleReadMetrics
      taskRecs += TaskRec(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
        sr.totalBytesRead, m.shuffleWriteMetrics.recordsWritten, sr.recordsRead,
        sr.fetchWaitTime, m.diskBytesSpilled,
        m.memoryBytesSpilled, m.peakExecutionMemory)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.get(QueryPlanningTracker.ANALYSIS)
      .orElse(ph.values.headOption).map(_.startTimeMs)
    start.foreach { t =>
      synchronized {
        planRecs += PlanRec(t, ms(QueryPlanningTracker.ANALYSIS),
          ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING))
      }
    }
  }

  /** Everything recorded, once the listener bus has drained (after
    * SparkContext.stop). Jobs still open get their last stage's end. */
  def snapshot(): (Seq[JobRec], Seq[StageRec], Seq[TaskRec], Seq[PlanRec]) =
    synchronized {
      val stageEnd = stageRecs.map(s => s.id -> s.end).toMap
      val jobs = jobStarts.toSeq.map { case (id, name, t, stages) =>
        val end = jobEnds.getOrElse(id, stages.flatMap(stageEnd.get).foldLeft(t)(math.max))
        JobRec(id, name, t, end, stages)
      }
      (jobs, stageRecs.toSeq, taskRecs.toSeq, planRecs.toSeq)
    }
}

/** Waits until Spark's listener bus has delivered every event posted so
  * far. It runs a one-task job and waits for that job's end event: the
  * bus delivers a queue's events in order, and this listener shares
  * Spark's shared queue with the [[Tracer]]. */
final class Fence extends SparkListener {
  private val open = new ConcurrentHashMap[Int, String]
  private val ended = new LinkedBlockingQueue[String]
  private var next = 0

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Fence.Key)))
      .foreach(open.put(e.jobId, _))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(ended.put)

  def await(sc: SparkContext): Unit = {
    next += 1
    val token = next.toString
    sc.setLocalProperty(Fence.Key, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Fence.Key, null)
    var got = ""
    while (got != token) {
      got = ended.poll(60, TimeUnit.SECONDS)
      if (got == null) sys.error("the listener bus did not deliver a fence job's end in 60 s")
    }
  }
}

object Fence {
  val Key = "perfbench.fence"
  def of(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty(Key) != null)
}
