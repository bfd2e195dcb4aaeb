package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.profiler.TableCatalog

/** In-memory trace of one benchmark run: every job and stage the program
  * runs, attributed to a table or query key (a thread-local Spark property
  * the benchmark sets before each call) and to a layer ([[Layers]]), plus
  * driver-side spans the benchmark records around catalog calls. Nothing is
  * written while the run is timed; [[Report]] reduces it once at the end.
  *
  * All times are epoch milliseconds, the clock Spark stamps stages with.
  */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execDetails = mutable.Map.empty[Long, String]
  private val stageBuf = mutable.ArrayBuffer.empty[Stage]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var jobsStarted, jobsEnded, stagesSubmitted, stagesCompleted = 0
  private var sentinelEnded = false
  private var planMs = 0L

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized { execDetails(e.executionId) = e.details }
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
    val callSite = js.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull
    val layer = Layers.ofCallSite(callSite)
      .orElse(prop(ExecIdKey).flatMap(id => execDetails.get(id.toLong)).flatMap(Layers.ofCallSite))
      .orElse(prop(LayerKey))
      .getOrElse(Layers.Other)
    jobs(js.jobId) = Job(js.jobId, prop(TagKey), layer, js.time)
    js.stageIds.foreach(stageJob(_) = js.jobId)
    jobsStarted += 1
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    if (jobs.get(je.jobId).exists(_.tag.contains(SentinelTag))) sentinelEnded = true
    notifyAll()
  }

  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = synchronized {
    stagesSubmitted += 1
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val si = sc.stageInfo
    val m = si.taskMetrics
    val job = stageJob.get(si.stageId).flatMap(jobs.get)
      .getOrElse(Job(-1, None, Layers.Other, 0L))
    val end = si.completionTime.getOrElse(System.currentTimeMillis())
    stageBuf += (if (m == null) Stage(job, si.submissionTime.getOrElse(end), end,
      si.numTasks, 0, 0, 0, 0, 0, 0, 0, 0)
    else Stage(job, si.submissionTime.getOrElse(end), end, si.numTasks,
      m.executorRunTime, m.executorCpuTime, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.jvmGCTime, m.resultSize))
    stagesCompleted += 1
    notifyAll()
  }

  /** Query-planning time (analysis + optimization + planning) of every
    * action, from Spark's own phase tracker. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Trace.this.synchronized {
      planMs += qe.tracker.phases.valuesIterator.map(_.durationMs).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  /** Records a driver-side span (a call with or without jobs). */
  def span[A](layer: String, tag: String)(body: => A): A = {
    val start = System.currentTimeMillis()
    try body
    finally synchronized {
      spanBuf += Span(layer, tag, start, System.currentTimeMillis())
    }
  }

  /** Blocks until every job and stage that started has ended, by counting
    * listener events. `sentinel` must run one job tagged [[SentinelTag]]:
    * its end event is delivered after the events of every job that was
    * submitted before it, so the counts cannot read as equal while a start
    * event is still queued. Throws if the counts do not meet in time. */
  def drain(timeoutMs: Long)(sentinel: () => Unit): Unit = {
    sentinel()
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (!(sentinelEnded && jobsStarted == jobsEnded && stagesSubmitted == stagesCompleted)) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0)
          throw new IllegalStateException(
            s"trace did not drain in $timeoutMs ms: jobs $jobsEnded/$jobsStarted ended, " +
              s"stages $stagesCompleted/$stagesSubmitted completed, sentinel=$sentinelEnded")
        wait(left)
      }
    }
  }

  def stages: Seq[Stage] = synchronized(stageBuf.filterNot(_.job.tag.contains(SentinelTag)).toSeq)
  def traceJobs: Seq[Job] = synchronized(jobs.values.filterNot(_.tag.contains(SentinelTag)).toSeq)
  def spans: Seq[Span] = synchronized(spanBuf.toSeq)
  def planSeconds: Double = synchronized(planMs / 1e3)
}

object Trace {
  final case class Job(id: Int, tag: Option[String], layer: String, start: Long)
  final case class Stage(
      job: Job, start: Long, end: Long, tasks: Int, runMs: Long, cpuNs: Long,
      inputBytes: Long, outputBytes: Long, shuffleWrite: Long, shuffleRead: Long,
      gcMs: Long, resultBytes: Long)
  final case class Span(layer: String, tag: String, start: Long, end: Long)

  /** Spark local property naming the table or query key a job serves. */
  val TagKey = "perfbench.tag"
  /** Local property giving the layer of a query key's own jobs, used when
    * the call site holds no mapped engine frame (the benchmark collects the
    * key's result itself). */
  val LayerKey = "perfbench.layer"
  val SentinelTag = "perfbench.drain"
  private val ExecIdKey = "spark.sql.execution.id"

  def install(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.planListener)
    t
  }

  def sentinelJob(sc: SparkContext): () => Unit = () => {
    sc.setLocalProperty(TagKey, SentinelTag)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(TagKey, null)
  }

  /** Union length of [start, end) intervals, in the intervals' unit. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total, curStart, curEnd = 0L
    var open = false
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curEnd) curEnd = math.max(curEnd, e)
      else {
        if (open) total += curEnd - curStart
        curStart = s; curEnd = e; open = true
      }
    }
    if (open) total += curEnd - curStart
    total
  }
}

/** The catalog `Runner` is handed in a traced run: on `load(t)` it tags the
  * calling thread with `t`, so every job Runner then issues for that table
  * carries the tag, and it records the call as a `catalog` span. */
final class TracedCatalog(underlying: TableCatalog, sc: SparkContext, trace: Trace)
    extends TableCatalog {
  override def name: String = underlying.name
  override def listTables: Seq[String] = trace.span("catalog", "*")(underlying.listTables)
  override def load(table: String): DataFrame = {
    sc.setLocalProperty(Trace.TagKey, table)
    trace.span("catalog", table)(underlying.load(table))
  }
}
