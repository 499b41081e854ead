package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds so the benchmark's own
  * spans and Spark's job times (epoch milliseconds) share one axis. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans nest workload → pass → op → layer call
  * → Spark job; a job is attached to the innermost open span of the thread
  * that submitted it, through the `graftbench.span` local property. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private var nextId = 1L
  private val stack = mutable.Stack[Long](0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Off for the untraced passes: `span` then only runs its body. */
  @volatile var on = false

  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  def span[T](kind: String, name: String)(f: => T): T = if (!on) f else {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.top
    stack.push(id)
    spark.sparkContext.setLocalProperty(SpanKey, id.toString)
    val t0 = now()
    try f
    finally {
      spans.add(Span(id, parent, kind, name, t0, now()))
      stack.pop()
      spark.sparkContext.setLocalProperty(SpanKey, stack.top.toString)
    }
  }

  def newId(): Long = synchronized { nextId += 1; nextId }
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Time covered by a set of intervals (overlaps counted once). */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Ids of the spans of `kind` and of every span nested in one. */
  def within(spans: Seq[Span], kind: String): Set[Long] = {
    val children = spans.groupBy(_.parent)
    def walk(id: Long): Seq[Long] = id +: children.getOrElse(id, Nil).flatMap(c => walk(c.id))
    spans.filter(_.kind == kind).flatMap(s => walk(s.id)).toSet
  }

  /** Self time per span kind: a span's duration minus the part of it its
    * children cover. */
  def selfTimeByKind(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }
        (s.dur - union(kids)) / 1e9
      }.sum
    }
  }

  def toJson(spans: Seq[Span]): String =
    spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${Json.esc(s.name)}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }.mkString("[\n", ",\n", "\n]")
}

/** Task-level totals of one set of jobs. */
final case class TaskTotals(tasks: Long = 0, taskMs: Long = 0, cpuNs: Long = 0,
                            gcMs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
                            spill: Long = 0, input: Long = 0, output: Long = 0,
                            failed: Long = 0) {
  def +(o: TaskTotals): TaskTotals = TaskTotals(tasks + o.tasks, taskMs + o.taskMs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill, input + o.input,
    output + o.output, failed + o.failed)
}

final case class JobRec(jobId: Int, span: Long, batchId: Option[Long],
                        start: Long, var end: Long, var totals: TaskTotals = TaskTotals(),
                        var stages: Long = 0)

/** Catalyst phase times of one execution; `start` (epoch ns) is when its
  * first phase began. */
final case class PlanRec(start: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

final case class BatchRec(batchId: Long, inputRows: Long, durations: Map[String, Long])

/** Spark's public listeners, registered by the benchmark: jobs, stages and
  * task metrics from a `SparkListener`, Catalyst phase times from a
  * `QueryExecutionListener`, micro-batch progress from a
  * `StreamingQueryListener`. Job times become [[Span]]s under the span that
  * submitted them. */
final class SparkTrace(spark: SparkSession) extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageToJob = mutable.Map[Int, Int]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(_.toLong)
    e.stageInfos.foreach(s => stageToJob(s.stageId) = e.jobId)
    jobs(e.jobId) = JobRec(e.jobId, span, batch, e.time * 1000000L, e.time * 1000000L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val t = TaskTotals(
      tasks = 1,
      taskMs = Option(e.taskInfo).map(_.duration).getOrElse(0L),
      cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
      gcMs = m.map(_.jvmGCTime).getOrElse(0L),
      shuffleWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      shuffleRead = m.map(x => x.shuffleReadMetrics.remoteBytesRead +
        x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
      spill = m.map(x => x.diskBytesSpilled + x.memoryBytesSpilled).getOrElse(0L),
      input = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      output = m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      failed = if (e.reason == TaskSuccess) 0 else 1)
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach(j => j.totals = j.totals + t)
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val startMs = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      plans.add(PlanRec(startMs * 1000000L, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def jobsSnapshot(): Seq[JobRec] = synchronized { jobs.values.toSeq }
}

/** Micro-batch progress. Registered on every `etl_stream` run, traced or
  * not: the per-batch latency is an end-to-end metric there. */
final class BatchListener extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    // a drain ends with an empty trigger that processes nothing; only
    // batches that read input are ops
    if (p.numInputRows > 0)
      batches.add(BatchRec(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def take(): Seq[BatchRec] = {
    val out = batches.asScala.toSeq
    batches.clear()
    out
  }
}
