package graft.operators

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** Bounded driver-side fan-out of independent Spark work — the
  * reference's errgroup over tables (`full.go:387-633`) on one
  * session. Spark schedules concurrent actions from one session fine,
  * so a call's wall-clock becomes its slowest item instead of the sum
  * of its job barriers; slot sharing stays the scheduler's business.
  */
object DriverPool {

  val Threads = 8

  /** `fn` over `items` on [[Threads]] daemon threads, results in input
    * order. The pool is created per call so its workers inherit the
    * caller's local properties (Spark's are inheritable thread-locals,
    * copied when a thread starts). Every worker runs its jobs in one
    * job group. The first failure (or the `timeout`) cancels that
    * group's running and future jobs, waits for the workers to stop,
    * then cancels the group once more: Spark's future-job cancel skips
    * map-stage jobs, which adaptive execution submits from its own
    * threads and which can land after the first cancel. Daemon threads
    * plus `shutdownNow` mean a hung item cannot keep the JVM alive.
    */
  def map[A, B](s: SparkSession, items: Seq[A], name: String,
      timeout: Duration = Duration.Inf)(fn: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads,
      (r: Runnable) => {
        val t = new Thread(r, name)
        t.setDaemon(true)
        t
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val jobGroup = s"$name-${java.util.UUID.randomUUID()}"
    try {
      val futs = items.map { a =>
        Future {
          s.sparkContext.setJobGroup(jobGroup, name,
            interruptOnCancel = true)
          fn(a)
        }
      }
      try Await.result(Future.sequence(futs), timeout)
      catch {
        case e: Throwable =>
          s.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
          pool.shutdownNow()
          pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
          s.sparkContext.cancelJobGroup(jobGroup)
          throw e
      }
    } finally pool.shutdownNow()
  }
}
