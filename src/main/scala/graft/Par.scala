package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** The engine's one driver-side fan-out: independent tasks, each of
  * which submits its own Spark jobs, run concurrently so the scheduler
  * overlaps their jobs (actions are only sequential because the driver
  * calls them one after another).
  */
private[graft] object Par {

  /** Run `tasks` on a pool of `min(tasks, cores)` threads and return
    * their results in task order, whatever the completion order.
    *
    * The pool belongs to this call: its threads are created here, so
    * they inherit the caller's [[Caches]] scope, Spark local properties
    * and active session, and none outlives the call. Every job a task
    * submits carries one job tag. The first failure cancels the jobs
    * under that tag, interrupts the other tasks, waits until every pool
    * thread has ended, and is rethrown; the siblings' own failures
    * (their cancellation) are dropped.
    */
  def all[A](spark: SparkSession)(tasks: Seq[() => A]): Seq[A] =
    if (tasks.isEmpty) Seq.empty
    else {
      val sc = spark.sparkContext
      val tag = s"graft-par-${java.util.UUID.randomUUID()}"
      val pool = Executors.newFixedThreadPool(
        math.min(tasks.size, Runtime.getRuntime.availableProcessors))
      val done = new ExecutorCompletionService[A](pool)
      var ok = false
      try {
        val futures = tasks.map(t => done.submit(() => { sc.addJobTag(tag); t() }))
        // completion order: the first task to fail is the first to throw
        tasks.foreach { _ =>
          try done.take().get()
          catch { case e: ExecutionException => throw e.getCause }
        }
        ok = true
        futures.map(_.get())
      } finally {
        def cancel(): Unit =
          if (!ok) try sc.cancelJobsWithTag(tag) catch { case NonFatal(_) => () }
        pool.shutdownNow()
        cancel()
        // and again until the pool drains: a sibling may submit another
        // job between the first cancel and its interrupt
        while (!pool.awaitTermination(50, TimeUnit.MILLISECONDS)) cancel()
      }
    }
}
