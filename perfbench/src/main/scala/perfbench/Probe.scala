package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * The benchmark's own Spark instrument, attached only in traced runs: a
 * `SparkListener` for job/stage/task counts and task metrics, and a
 * `QueryExecutionListener` for planning time, executed-plan node counts
 * and the `graft.neardup.*` observe() metrics.
 */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private val stageRun = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var skewMax = 0.0
  private var skewMean = 0.0

  @volatile private var enabled = false

  private def add(k: String, v: Double): Unit = if (enabled) c.synchronized {
    c(k) = c.getOrElse(k, 0.0) + v
  }

  /** Counts only what `body` runs: the bus is drained on both edges. */
  def gate[T](body: => T): T = {
    drain()
    enabled = true
    try body finally { drain(); enabled = false }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
      add("exec_run_s", m.executorRunTime / 1e3)
      add("exec_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      if (enabled) c.synchronized {
        stageRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    if (enabled) c.synchronized {
      stageRun.remove(e.stageInfo.stageId).filter(_.length >= 2).foreach { r =>
        skewMax += r.max.toDouble
        skewMean += r.sum.toDouble / r.length
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("planning_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    Probe.walk(qe.executedPlan) {
      case _: ShuffleExchangeLike => add("exchanges", 1)
      case _: SortExec => add("sorts", 1)
      case _: WindowExec => add("windows", 1)
      case _ =>
    }
    qe.observedMetrics.foreach { case (name, row) =>
      val key =
        if (name.startsWith("graft.neardup.candidates")) Some("neardup_candidates")
        else if (name.startsWith("graft.neardup.verified")) Some("neardup_verified")
        else None
      key.foreach { k =>
        row.toSeq.foreach { case n: Number => add(k, n.doubleValue()); case _ => }
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  /** Counters so far; `stage_skew` is the summed slowest-task time over
    * the summed mean-task time of every multi-task stage (1 = balanced). */
  def snapshot(): Map[String, Double] = {
    drain()
    c.synchronized {
      c.toMap + ("stage_skew" -> (if (skewMean > 0) skewMax / skewMean else 1.0))
    }
  }
}

object Probe {
  /** Visits every node of an executed plan, through adaptive wrappers,
    * query stages and subqueries. */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case s: QueryStageExec => walk(s.plan)(f)
    case _ =>
      f(p)
      p.children.foreach(walk(_)(f))
      p.subqueries.foreach(walk(_)(f))
  }
}
