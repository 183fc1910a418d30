package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall clock for ops, spans and Spark's listener events: epoch
  * milliseconds with sub-millisecond resolution, anchored once so that
  * differences come from the monotonic `nanoTime`. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Spans around each call into a layer, kept in memory and written when the
  * run ends. Only the driver thread opens spans, so a plain stack tracks the
  * parent. Disabled, a span is just its body. */
object Spans {
  @volatile var enabled = false
  var currentOp: Int = -1

  final case class Span(name: String, startMs: Double, var endMs: Double,
                        parent: Int, op: Int)

  val all = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = all.size
      all += Span(name, Clock.nowMs, Double.NaN, open.headOption.getOrElse(-1), currentOp)
      open = id :: open
      try body
      finally {
        all(id).endMs = Clock.nowMs
        open = open.tail
      }
    }
}

/** Spark's side of the trace, from its public listener interfaces: jobs
  * (tied to their op by a local property — TimeoutGuard owns the job
  * group), stages with summed task metrics, and each query execution's
  * Catalyst phases and plan row counts. Every callback arrives on the
  * listener bus thread; readers synchronize on the recorder. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  final class Job(val id: Int, val op: String, val startMs: Long) {
    var endMs: Long = -1
  }
  final class Stage(val id: Int, val attempt: Int, val job: Int, val op: String) {
    var tasks, inputTasks = 0
    var runMs, cpuNs, gcMs, deserMs, shuffleWrite, shuffleRead, spill, inputBytes = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  val qes = ArrayBuffer.empty[Qe]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private var drained = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      .getOrElse("")
    val job = new Job(e.jobId, op, e.time)
    jobs(e.jobId) = job
    e.stageIds.foreach(stageJob(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      if (j.op == DrainOp) { drained = true; notifyAll() }
    }
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), {
      val job = stageJob.get(id)
      new Stage(id, attempt, job.map(_.id).getOrElse(-1), job.map(_.op).getOrElse(""))
    })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.deserMs += m.executorDeserializeTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.inputMetrics.bytesRead > 0) {
        s.inputTasks += 1
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private def record(qe: QueryExecution, failed: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val rows = if (failed) Seq.empty[(Long, Boolean)] else PlanRows(qe.executedPlan)
    val start = if (phases.isEmpty) Clock.nowMs
                else phases.values.map(_.startTimeMs).min.toDouble
    val q = Qe(start, ms("analysis"), ms("optimization"), ms("planning"),
      rows.map(_._1).sum, rows.map(_._1).maxOption.getOrElse(0L),
      rows.collect { case (n, true) => n }.sum)
    synchronized { qes += q }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, failed = true)

  /** Block until every event posted before this call has been delivered:
    * run a marker job and wait for its end on the same (ordered) queue. */
  def drain(spark: SparkSession, timeoutMs: Long = 30000): Unit = {
    spark.sparkContext.setLocalProperty(OpProperty, DrainOp)
    try spark.range(1).write.format("noop").mode("overwrite").save()
    finally spark.sparkContext.setLocalProperty(OpProperty, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (!drained && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
    }
  }
}

object Recorder {
  /** A query execution: when its planning began, Catalyst phase times, and
    * the rows its operators output (all, the widest, and the leaves'). */
  final case class Qe(startMs: Double, analysisMs: Long, optimizationMs: Long,
                      planningMs: Long, rowsMaterialized: Long, widestRows: Long,
                      leafRows: Long)

  /** Local property naming the op a job belongs to. */
  val OpProperty = "perfbench.op"
  val DrainOp = "drain"

  private val bySession = new java.util.WeakHashMap[SparkSession, Recorder]()

  /** Attach the listeners to `spark` once; later calls return the same
    * recorder, so a session is never traced twice. */
  def attach(spark: SparkSession): Recorder = synchronized {
    Option(bySession.get(spark)).getOrElse {
      val r = new Recorder
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
      bySession.put(spark, r)
      r
    }
  }
}

/** Row count (`numOutputRows`) of every operator of an executed plan that
  * has one, descending into adaptive query stages, and whether it is a leaf
  * (where rows enter the plan). */
object PlanRows extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Seq[(Long, Boolean)] =
    collectWithSubqueries(plan) {
      case p if p.metrics.contains("numOutputRows") =>
        (p.metrics("numOutputRows").value, p.children.isEmpty)
    }
}
