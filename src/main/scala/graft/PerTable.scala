package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit,
  TimeoutException}
import org.apache.spark.sql.SparkSession
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

/** The one runner for independent per-table Spark work (an export's table
  * writes, a merge's table rewrites, a baseline's key-set collects).
  * Spark's scheduler is thread-safe for concurrent job submission, so
  * small tables overlap the big ones instead of leaving the cluster idle
  * between driver-serial jobs.
  *
  * BOUNDED AND NAMED: every task runs to completion (or failure) before
  * the call returns or throws — a failed table never leaves a sibling
  * still writing, and committing, after the caller has moved on — and
  * a failure surfaces as [[PerTable.Failed]] naming every table that
  * failed. The whole call has a finite deadline: past it, the tables'
  * Spark jobs are cancelled through a call-unique job tag, their threads
  * interrupted, and the unfinished tables named. Job tags add to (never
  * replace) the caller's job description, which the pool threads
  * inherit.
  */
object PerTable {

  /** One or more per-table tasks failed or missed the deadline; `tables`
    * lists them in input order, the first one's error is the cause and
    * the others' are suppressed.
    */
  final class Failed(val tables: Seq[String], cause: Throwable)
      extends RuntimeException(
        s"per-table task failed for ${tables.mkString(", ")}: ${cause.getMessage}",
        cause)

  /** Far above any single-table job this engine runs; it exists so a hung
    * job surfaces as a named failure instead of a driver that never
    * returns.
    */
  val Deadline: FiniteDuration = 6.hours

  private val MaxThreads = 4
  // how long cancelled tasks get to unwind after the deadline
  private val Grace = 1.minute

  /** Run `tasks` (table → body) on at most four driver threads; returns
    * table → result in input order.
    */
  def run[A](spark: SparkSession, tasks: Seq[(String, () => A)],
      deadline: FiniteDuration = Deadline): Seq[(String, A)] =
    if (tasks.isEmpty) Nil
    else {
      val sc = spark.sparkContext
      val tag = s"graft-per-table-${java.util.UUID.randomUUID()}"
      val pool = Executors.newFixedThreadPool(math.min(MaxThreads, tasks.size))
      val futures = tasks.map { case (t, body) =>
        t -> pool.submit(new Callable[Try[A]] {
          def call(): Try[A] = { sc.addJobTag(tag); Try(body()) }
        })
      }
      pool.shutdown()
      if (!pool.awaitTermination(deadline.toMillis, TimeUnit.MILLISECONDS)) {
        val late = futures.collect { case (t, f) if !f.isDone => t }
        sc.cancelJobsWithTag(tag)
        pool.shutdownNow()
        pool.awaitTermination(Grace.toMillis, TimeUnit.MILLISECONDS)
        throw new Failed(late, new TimeoutException(s"not finished within $deadline"))
      }
      // a fatal error escaped Try in the worker: rethrow it as itself
      val results = futures.map { case (t, f) =>
        t -> (try f.get() catch { case e: ExecutionException => throw e.getCause })
      }
      results.collect { case (t, Failure(e)) => t -> e } match {
        case Seq() => results.collect { case (t, Success(a)) => t -> a }
        case failed =>
          val err = new Failed(failed.map(_._1), failed.head._2)
          failed.tail.foreach(f => err.addSuppressed(f._2))
          throw err
      }
    }
}
