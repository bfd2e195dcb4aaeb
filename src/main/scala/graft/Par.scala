package graft

import java.util.concurrent.{CompletionException, ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** The one way the engine submits independent Spark jobs from driver
  * threads (a table battery per table, a pass per pass group, a chain per
  * model split): Spark schedules jobs from several driver threads
  * concurrently, so one pass's single-task merge or collect latency
  * back-fills with another's scan.
  *
  *   - at most `width` bodies run at once, on a pool of its own per call
  *     (so a body may call `map` again without starving its caller), and
  *     the next item starts as soon as any body finishes;
  *   - every body runs through Spark's `SQLExecution.withThreadLocalCaptured`
  *     with the CALLER's local properties (job group, tags, descriptions),
  *     active session and artifact state — one clone per item, so a body
  *     that sets a property touches only its own jobs;
  *   - results come back in input order once every started body is done;
  *     the first failure in input order is rethrown as the body's own
  *     `Throwable`, fatal errors included (a `StackOverflowError` in
  *     Catalyst fails the caller instead of leaving it waiting forever),
  *     and items not yet started are skipped. */
object Par {
  def map[A, B](spark: SparkSession, items: Seq[A], width: Int)(body: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(width, items.size)))
    val futures = items.toVector.map(a => SQLExecution.withThreadLocalCaptured(spark, pool)(body(a)))
    try futures.map { f =>
      try f.get()
      catch {
        case e @ (_: ExecutionException | _: CompletionException) if e.getCause != null =>
          throw e.getCause
      }
    }
    finally {
      futures.foreach(_.cancel(false))
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
