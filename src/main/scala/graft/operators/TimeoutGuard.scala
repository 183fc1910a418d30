package graft.operators

import org.apache.spark.sql.SparkSession
import java.util.{Timer, TimerTask}
import java.util.concurrent.atomic.AtomicBoolean
import scala.util.DynamicVariable

/** Query timeout — E6.
  *
  * The reference sets a server-side `statement_timeout` in minutes→ms
  * (`/root/reference/src/airflow_postgres_csv/operators.py:76,174`, default 60
  * at `operators.py:32,49`). Spark has no session-wide statement timeout, so
  * the equivalent is a job-group watchdog: the body's jobs run under a group
  * that a daemon timer cancels (with task interruption) when the deadline
  * passes. Scales to any cluster size — cancellation is a driver-side
  * scheduler operation.
  */
object TimeoutGuard {
  val DefaultTimeoutMinutes = 60L // operators.py:32

  def run[T](spark: SparkSession, timeoutMinutes: Long = DefaultTimeoutMinutes)
            (body: => T): T =
    runMillis(spark, timeoutMinutes * 60L * 1000L, timeoutMinutes)(body)

  /** Millisecond-granularity core (separate for testability — the public
    * surface is minutes, like the reference's `timeout` param).
    *
    * `cancelJobGroup` only hits jobs running at that instant, so a multi-job
    * body (e.g. an aligned read then a write) could start its NEXT job after
    * the deadline fired — the cancel keeps re-firing every 100ms until the
    * body returns. Driver-side loops in the body see the deadline through
    * [[checkDeadline]].
    *
    * A body that COMPLETES despite the deadline having fired (its last job
    * finished before the cancel landed) SUCCEEDS — the same semantics as
    * Postgres `statement_timeout`, where a statement that finishes before
    * the cancel signal arrives commits normally. Timeout is raised only
    * when work was actually interrupted (the body threw after the deadline);
    * callers therefore never see a "timeout" for a load whose side effects
    * committed, and retry-on-timeout stays safe. */
  private final case class Deadline(fired: AtomicBoolean, minutes: Long)

  /** The guards the current thread runs inside, innermost first. */
  private val active = new DynamicVariable[List[Deadline]](Nil)

  /** Throws [[GraftTimeoutException]] once a guard around the caller has
    * passed its deadline. Driver-side work that cancelling jobs cannot stop
    * (E1's serial concat) calls this between its steps. */
  private[graft] def checkDeadline(): Unit =
    active.value.find(_.fired.get).foreach(d => throw new GraftTimeoutException(d.minutes))

  private[graft] def runMillis[T](spark: SparkSession, timeoutMs: Long,
                                  reportedMinutes: Long = 0)(body: => T): T = {
    val group = s"graft-timeout-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, s"graft query (timeout ${timeoutMs}ms)",
      interruptOnCancel = true)
    val timedOut = new AtomicBoolean(false)
    val timer = new Timer("graft-timeout", true)
    // Fixed-rate re-cancel from the deadline onward: jobs the body submits
    // AFTER the first cancel landed get cancelled too (<=100ms later).
    timer.scheduleAtFixedRate(new TimerTask {
      def run(): Unit = { timedOut.set(true); sc.cancelJobGroup(group) }
    }, timeoutMs, 100L)
    try {
      active.withValue(Deadline(timedOut, reportedMinutes) :: active.value)(body)
    } catch {
      // a NESTED guard's timeout keeps its own attribution — re-labeling it
      // as this (outer) guard's timeout would report the wrong deadline
      case e: GraftTimeoutException => throw e
      case _: Throwable if timedOut.get() =>
        throw new GraftTimeoutException(reportedMinutes)
    } finally {
      timer.cancel()
      sc.clearJobGroup()
    }
  }
}
