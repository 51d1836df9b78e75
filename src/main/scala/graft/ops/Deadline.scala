package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** L3 wall-clock kill switch: the reference hard-kills any query after
  * `stop-consumers-after-n-seconds` (default 86,400 s) to stop forgotten
  * consumers from loading the cluster
  * (`/root/reference/src/kbrowse/search.clj:118-122,156-158`,
  * `config.clj:68`).
  *
  * Spark mapping: run the query inside a job group and cancel the group
  * from a timer — `interruptOnCancel` interrupts running tasks, so even a
  * mid-stage query dies promptly; the group's later jobs fail at
  * submission, so a stream that runs one job per partition also stops
  * when the deadline falls between two of them. This also gives L4
  * (client cancel): the HTTP layer calls [[cancel]] on a broken pipe
  * instead of letting the scan run to completion like the reference does
  * (a known inefficiency there, `core.clj:85-87`).
  */
object Deadline {
  val DefaultSeconds = 86400

  private val ids = new AtomicInteger()

  /** Run `body` with a hard wall-clock deadline; on expiry the job group
    * is cancelled and the running or next action throws SparkException. */
  def withDeadline[T](spark: SparkSession, seconds: Int = DefaultSeconds)(body: => T): T =
    withDeadlineGroup(spark, seconds)(_ => body)

  /** Like [[withDeadline]], but hands the body its job-group id so other
    * cancellation sources (a disconnected client — L4) can kill the same
    * group via [[cancel]]. */
  def withDeadlineGroup[T](spark: SparkSession, seconds: Int = DefaultSeconds)(
      body: String => T): T = {
    val group = s"graft-deadline-${ids.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, s"graft query, ${seconds}s deadline", interruptOnCancel = true)
    val timer = new Thread(() => {
      try {
        Thread.sleep(seconds * 1000L)
        sc.cancelJobGroupAndFutureJobs(group)
      } catch { case _: InterruptedException => () }
    }, group)
    timer.setDaemon(true)
    timer.start()
    try body(group)
    finally {
      timer.interrupt()
      sc.clearJobGroup()
    }
  }

  /** L4: cancel the group owning the current thread's jobs (client gone). */
  def cancel(spark: SparkSession, group: String): Unit =
    spark.sparkContext.cancelJobGroupAndFutureJobs(group)
}
