package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch-millisecond clock with sub-millisecond resolution, on the same
  * time base as the millisecond stamps Spark puts on listener events. */
object Clock {
  private val baseWall = System.currentTimeMillis()
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseWall + (System.nanoTime() - baseNano) / 1e6
}

/** One traced interval. `op` ties every span of one operation together;
  * parents are resolved later by interval containment within the op. */
final case class Span(name: String, startMs: Double, endMs: Double, op: Long)

/** Per-operation execution counters filled by [[Probe]]'s Spark listener. */
final class Counters {
  var jobs, stages, tasks, exchanges = 0L
  var runMs, cpuMs, shuffleRead, shuffleWrite, spill = 0.0
}

/** Traced mode: spans and counters gathered at the engine's layer
  * boundaries from outside the engine — a SparkListener (jobs, stages,
  * tasks, per job group), a QueryExecutionListener (Catalyst phases and
  * exchange count of each executed plan) and the runner's own spans around
  * its calls into the engine. Everything stays in memory until the run
  * ends. */
final class Probe(spark: SparkSession) {
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val counters = TrieMap.empty[Long, Counters]
  private val jobOp = TrieMap.empty[Int, Long]
  private val stageOp = TrieMap.empty[Int, Long]
  private val jobStart = TrieMap.empty[Int, Long]
  // (phase name -> (start, end)), exchange count, per executed action
  private val executions = mutable.ArrayBuffer.empty[(Map[String, (Double, Double)], Int)]
  private val opWindows = mutable.ArrayBuffer.empty[(Long, Double, Double)]

  def span(name: String, startMs: Double, endMs: Double, op: Long): Unit =
    spanBuf.synchronized(spanBuf += Span(name, startMs, endMs, op))

  def counter(op: Long): Counters = counters.getOrElseUpdate(op, new Counters)

  /** Declares the wall-clock window of an operation, so actions reported
    * asynchronously by the QueryExecutionListener can be attributed. */
  def opWindow(op: Long, startMs: Double, endMs: Double): Unit =
    opWindows.synchronized(opWindows += ((op, startMs, endMs)))

  private def opOfJobGroup(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("op-") => g.drop(3).toLong }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      opOfJobGroup(e.properties).foreach { op =>
        jobOp(e.jobId) = op
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageOp(_) = op)
        val c = counter(op); c.synchronized(c.jobs += 1)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageOp.get(e.stageInfo.stageId).foreach { op =>
        val c = counter(op); c.synchronized(c.stages += 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobOp.get(e.jobId).foreach { op =>
        span("exec.job", jobStart.getOrElse(e.jobId, e.time).toDouble, e.time.toDouble, op)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counter(op)
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuMs += m.executorCpuTime / 1e6
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
        }
      }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: Exchange => e }.size
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) }
      val n = scala.util.Try(PlanWalk.exchanges(qe.executedPlan)).getOrElse(0)
      executions.synchronized(executions += ((phases, n)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Drains the listener bus and attributes each executed action to the op
    * whose window holds its planning start. */
  def finish(): Seq[Span] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    val windows = opWindows.synchronized(opWindows.toVector)
    executions.synchronized(executions.toVector).foreach { case (phases, n) =>
      val at = phases.values.map(_._1).minOption.getOrElse(0.0)
      windows.find { case (_, s, e) => s <= at && at <= e }.foreach { case (op, _, _) =>
        phases.foreach { case (k, (s, e)) => span(s"catalyst.$k", s, e, op) }
        val c = counter(op); c.synchronized(c.exchanges += n)
      }
    }
    spanBuf.synchronized(spanBuf.toVector)
  }

  def countersOf(op: Long): Counters = counters.getOrElse(op, new Counters)
}
