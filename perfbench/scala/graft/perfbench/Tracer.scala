package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of one op segment (the call that builds the
  * DataFrame, or the consumption of its result). */
final class Segment {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var schedWaitMs = 0L
  var taskBusyMs = 0L
  var taskSkew = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
  var exchange = 0L
  var smj = 0L
  var bhj = 0L
  var bnlj = 0L
  var window = 0L
  var joinRows = 0L
}

/** The traced run's listeners. Both are registered by the benchmark only,
  * for the traced passes only; events are attributed to the running
  * segment because the harness drains the listener bus at every segment
  * boundary (one op at a time, one client). */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var cur = new Segment
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageFirstLaunch = mutable.Map.empty[Int, Long]
  private val stageDurations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)

  /** Drain the bus and hand back the finished segment. */
  def take(): Segment = {
    drain()
    synchronized { val s = cur; cur = new Segment; s }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { cur.jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    if (!stageFirstLaunch.contains(e.stageId))
      stageFirstLaunch(e.stageId) = e.taskInfo.launchTime
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cur.taskBusyMs += m.executorRunTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    cur.stages += 1
    for (sub <- stageSubmit.remove(id); first <- stageFirstLaunch.remove(id))
      cur.schedWaitMs += math.max(0L, first - sub)
    stageDurations.remove(id).foreach { d =>
      // skew of a stage whose slowest task is under 50 ms is timer noise
      if (d.size >= 2 && d.max >= 50) {
        val sorted = d.sorted
        val med = math.max(1L, sorted(sorted.size / 2))
        cur.taskSkew = math.max(cur.taskSkew, d.max.toDouble / med)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Planning phases of a DataFrame's own analysis (done eagerly when the
    * program builds it, before any action reports through the listener). */
  def addAnalysis(qe: QueryExecution): Unit = synchronized {
    cur.analysisMs += phase(qe, "analysis")
  }

  private def phase(qe: QueryExecution, name: String): Long =
    qe.tracker.phases.get(name).map(_.durationMs).getOrElse(0L)

  private def record(qe: QueryExecution): Unit = {
    val nodes = Tracer.nodes(qe.executedPlan)
    synchronized {
      cur.analysisMs += phase(qe, "analysis")
      cur.optimizerMs += phase(qe, "optimization")
      cur.planningMs += phase(qe, "planning")
      nodes.foreach {
        case _: ShuffleExchangeLike => cur.exchange += 1
        case _ =>
      }
      nodes.foreach {
        case j: SortMergeJoinExec => cur.smj += 1; cur.joinRows += Tracer.rows(j)
        case j: BroadcastHashJoinExec => cur.bhj += 1; cur.joinRows += Tracer.rows(j)
        case j: BroadcastNestedLoopJoinExec => cur.bnlj += 1; cur.joinRows += Tracer.rows(j)
        case j: BaseJoinExec => cur.joinRows += Tracer.rows(j)
        case j: CartesianProductExec => cur.joinRows += Tracer.rows(j)
        case _: WindowExec => cur.window += 1
        case _ =>
      }
    }
  }
}

object Tracer {
  /** Every operator of an executed plan: final adaptive plans, query
    * stages and subqueries included; a reused exchange counts once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
}
