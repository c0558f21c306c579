package moverbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed call into a layer's public function, recorded by the
  * benchmark around the call (never inside the program). Times are epoch
  * milliseconds for attribution against listener events, plus a
  * nanosecond duration for the value itself.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    iter: Int, startMs: Long, endMs: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** What one Spark job did, summed over its tasks. */
final class JobRec(val id: Int, val startMs: Long, val group: String,
    val execId: Long) {
  var endMs: Long = startMs
  var tasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  /** Filled in at analysis: the innermost span whose window holds the start. */
  var span: Option[Span] = None
}

/** Span recorder plus Spark listener for the traced run. Spans and job
  * records stay in memory; [[writeSpans]] dumps them once, at exit.
  *
  * Jobs are attributed by time window, not by job description or group:
  * the closure fast path resets the job group on its probe threads, so
  * only the window a job starts in says which call caused it.
  */
final class Tracer(sc: SparkContext) extends SparkListener with Rec {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var iter = 0

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val writeExecs = mutable.Set.empty[Long]

  /** Time `f` as a span of `layer`, nested under the innermost open span. */
  def span[T](name: String, layer: String)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    try f
    finally {
      val nanos = System.nanoTime() - t0
      stack = stack.tail
      spans += Span(id, parent, name, layer, iter, ms, System.currentTimeMillis(), nanos)
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val rec = new JobRec(e.jobId, e.time, prop("spark.jobGroup.id").getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId); rec <- jobs.get(j); m <- Option(e.taskMetrics)) {
      rec.tasks += 1
      rec.taskMs += m.executorRunTime
      rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      rec.inputRecords += m.inputMetrics.recordsRead
      rec.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
      synchronized(writeExecs += s.executionId)
    case _ => ()
  }

  /** True when the job belongs to a SQL execution that writes files. */
  def isFileWrite(j: JobRec): Boolean = synchronized(writeExecs.contains(j.execId))

  /** Every job recorded so far, each attributed to the innermost span
    * whose window holds its start. Call after [[drain]].
    */
  def attributedJobs: Seq[JobRec] = synchronized {
    val byStart = spans.sortBy(s => (s.startMs, -s.endMs))
    jobs.values.toSeq.map { j =>
      // innermost = the latest-starting span that still covers the job
      j.span = byStart.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .lastOption
      j
    }
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.MoverbenchBus.drain(sc)

  /** Spans as JSON lines (name, start, end, parent), written at exit. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""iter":${s.iter},"start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
