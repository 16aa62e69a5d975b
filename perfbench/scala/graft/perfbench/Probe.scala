package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbenchshim.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own Spark listener: task metrics, job and stage intervals,
  * stored RDD blocks (the `localCheckpoint` copies) and, per executed query,
  * its exchange count and `graft_*` expression count. Registered only for
  * traced passes; `take` returns what was seen since the last `take`.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  private val tasks = ArrayBuffer.empty[Task]
  private val jobs = ArrayBuffer.empty[Job]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stages = ArrayBuffer.empty[Stage]
  private val plans = ArrayBuffer.empty[Plan]
  private val blocks = scala.collection.mutable.Map.empty[String, Long]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.duration, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
      m.diskBytesSpilled, m.outputMetrics.bytesWritten, e.taskInfo.successful)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (start, stageIds) =>
      jobs += Job(e.jobId, start, e.time, stageIds)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages += Stage(i.stageId, i.attemptNumber(), s, c)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks(b.blockId.name) = b.memSize + b.diskSize
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans += Probe.planOf(qe.executedPlan) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Everything recorded since the previous call, after the bus has
    * delivered every event already posted. */
  def take(spark: SparkSession): Window = {
    ListenerBusDrain(spark.sparkContext)
    synchronized {
      val w = Window(tasks.toSeq, jobs.toSeq, stages.toSeq, plans.toSeq, blocks.values.sum)
      tasks.clear(); jobs.clear(); stages.clear(); plans.clear(); blocks.clear()
      w
    }
  }
}

object Probe {
  final case class Task(stageId: Int, durationMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWriteBytes: Long, fetchWaitMs: Long, spillBytes: Long,
                        outputBytes: Long, ok: Boolean)
  final case class Job(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, submitMs: Long, endMs: Long)
  final case class Plan(exchanges: Int, graftCalls: Int)

  /** What one traced interval of work cost in Spark. */
  final case class Window(tasks: Seq[Task], jobs: Seq[Job], stages: Seq[Stage],
                          plans: Seq[Plan], checkpointBytes: Long) {
    def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
    def gcS: Double = tasks.map(_.gcMs).sum / 1e3
    def shuffleWriteMb: Double = tasks.map(_.shuffleWriteBytes).sum / 1e6
    def fetchWaitS: Double = tasks.map(_.fetchWaitMs).sum / 1e3
    def spillMb: Double = tasks.map(_.spillBytes).sum / 1e6
    def outputMb: Double = tasks.map(_.outputBytes).sum / 1e6
    def exchanges: Int = plans.map(_.exchanges).sum
    def graftCalls: Int = plans.map(_.graftCalls).sum
    /** Skew of the stage that carried the most task time. */
    def taskSkew: Double = {
      val byStage = tasks.groupBy(_.stageId)
      if (byStage.isEmpty) 1.0
      else Stats.skew(byStage.values.maxBy(_.map(_.durationMs).sum).map(_.durationMs.toDouble))
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Exchanges (shuffle and broadcast, reused ones not counted again) and
    * `graft_*` expression occurrences in an executed plan, adaptive stages
    * and subqueries included. */
  def planOf(plan: SparkPlan): Plan = {
    val exchanges = Plans.collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
    val graft = Plans.collectWithSubqueries(plan) { case p => p }
      .map(_.expressions.map(_.collect {
        case e if e.prettyName.startsWith("graft_") => 1
      }.size).sum).sum
    Plan(exchanges, graft)
  }
}
