package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same axis as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `parent` is the enclosing span's id (0 = the
  * workload root); all spans of a run share its run id. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty)

/** The job group the benchmark sets around each unit of work, so the
  * listeners can attribute Spark's jobs to it. */
final case class Group(pass: Int, job: String, phase: String) {
  def id: String = s"perfbench|$pass|$job|$phase"
}

object Group {
  def parse(s: String): Option[Group] = s match {
    case null => None
    case _ => s.split('|') match {
      case Array("perfbench", p, j, ph) => Some(Group(p.toInt, j, ph))
      case _ => None
    }
  }
}

final class SparkJobRec(val jobId: Int, val group: Option[Group], val submitMs: Long) {
  var endMs: Long = submitMs
  var firstLaunchMs: Long = Long.MaxValue
}

final case class TaskRec(jobId: Int, launchMs: Long, finishMs: Long, cpuNs: Long,
                         gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

final case class QueryRec(group: Option[Group], planMs: Double, scanBytes: Long)

final case class ProgressRec(query: String, batchId: Long, commitMs: Long,
                             stateRows: Long, stateBytes: Long)

/** Spark's public listeners — `SparkListener`, `QueryExecutionListener`
  * and `StreamingQueryListener` — recording jobs, tasks, SQL executions
  * and stream progress in memory. Attached only to traced passes. */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = ArrayBuffer[SparkJobRec]()
  val tasks = ArrayBuffer[TaskRec]()
  val queries = ArrayBuffer[QueryRec]()
  val progress = ArrayBuffer[ProgressRec]()
  private val jobById = scala.collection.mutable.Map[Int, SparkJobRec]()
  private val jobOfStage = scala.collection.mutable.Map[Int, Int]()
  private val groupOfExecution = scala.collection.mutable.Map[Long, Option[Group]]()
  private val pending = new java.util.IdentityHashMap[QueryExecution, (Double, Long)]()
  private val ended = new java.util.IdentityHashMap[QueryExecution, Option[Group]]()

  def clear(): Unit = synchronized {
    jobs.clear(); tasks.clear(); queries.clear(); progress.clear()
    jobById.clear(); jobOfStage.clear(); groupOfExecution.clear()
    pending.clear(); ended.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Group.parse(p.getProperty("spark.jobGroup.id")))
    val rec = new SparkJobRec(e.jobId, g, e.time)
    jobs += rec
    jobById(e.jobId) = rec
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val jobId = jobOfStage.getOrElse(e.stageId, -1)
    val info = e.taskInfo
    jobById.get(jobId).foreach(j =>
      j.firstLaunchMs = math.min(j.firstLaunchMs, info.launchTime))
    val m = e.taskMetrics
    if (m == null) tasks += TaskRec(jobId, info.launchTime, info.finishTime, 0, 0, 0, 0)
    else tasks += TaskRec(jobId, info.launchTime, info.finishTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      groupOfExecution(s.executionId) = s.jobGroupId.flatMap(Group.parse)
    }
    // the query listener and this end event see the same query, in
    // either order: join them to attribute the query to its job group
    case end: SparkListenerSQLExecutionEnd =>
      val qe = SparkInternals.queryOf(end)
      if (qe != null) synchronized {
        val g = groupOfExecution.remove(end.executionId).flatten
        Option(pending.remove(qe)) match {
          case Some((planMs, scan)) => queries += QueryRec(g, planMs, scan)
          case None => ended.put(qe, g)
        }
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    // scan bytes come from the executed plan's SQL metrics: task input
    // metrics undercount parquet scans
    val scan = collectWithSubqueries(qe.executedPlan) { case p: SparkPlan => p }
      .flatMap(_.metrics.get("filesSize")).map(_.value).sum
    synchronized {
      if (ended.containsKey(qe)) queries += QueryRec(ended.remove(qe), planMs, scan)
      else pending.put(qe, (planMs, scan))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators
      Tracer.this.synchronized {
        progress += ProgressRec(Option(p.name).getOrElse(p.id.toString), p.batchId,
          ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def detach(spark: SparkSession): Unit = {
    SparkInternals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }
}
