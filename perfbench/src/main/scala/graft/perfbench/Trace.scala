package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region around one call into the program. Spans of one
  * operation share `group`; `parent` is the enclosing span (-1 at top). */
final case class Span(id: Int, name: String, parent: Int, group: String,
    startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task counters summed over the stages of one or more jobs. */
final case class Counters(jobs: Int = 0, tasks: Long = 0, cpuNs: Long = 0, inputBytes: Long = 0,
    shuffleBytes: Long = 0, outputBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    inputBytes + o.inputBytes, shuffleBytes + o.shuffleBytes, outputBytes + o.outputBytes,
    spillBytes + o.spillBytes)
  def cpuS: Double = cpuNs / 1e9
}

/** Spans kept in memory plus the counters Spark's public listener APIs
  * report, attributed to spans from outside the program:
  *   - jobs carry the span id as a local property set on the calling
  *     thread (stream threads inherit it at start; their jobs also
  *     carry Spark's batch-id property);
  *   - planning time comes from `QueryExecution.tracker`, attributed by
  *     the time its analysis phase started;
  *   - stream phase times come from `StreamingQueryProgress.durationMs`.
  * Listeners are attached only while tracing is on, so untraced passes
  * pay nothing for them.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val sc = spark.sparkContext

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageCounters = mutable.HashMap.empty[Int, Counters]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val progress = mutable.ArrayBuffer.empty[Progress]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val rec = JobRec(e.jobId, prop(SpanKey).map(_.toInt).getOrElse(-1),
        prop(BatchKey).map(_.toLong).getOrElse(-1L), e.time, e.stageIds)
      jobs(e.jobId) = rec
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = Counters(0, 1, m.executorCpuTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
        stageCounters(e.stageId) = stageCounters.getOrElse(e.stageId, Counters()) + c
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val metrics = planMetrics(qe.executedPlan)
        def values(node: String, metric: String) =
          metrics.collect { case (n, k, v) if n == node && k == metric => v }
        // the parser explodes twice (transactions, then their events): the
        // larger output is the event count
        val rec = QeRec(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum,
          values("Execute InsertIntoHadoopFsRelationCommand", "numOutputRows").sum,
          values("Generate", "numOutputRows").maxOption.getOrElse(0L))
        Trace.this.synchronized(qes += rec)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val rec = Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      Trace.this.synchronized(progress += rec)
    }
  }

  @volatile private var on = false

  def enable(): Unit = if (!on) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def disable(): Unit = if (on) {
    flush()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Waits until the listener bus has delivered every posted event. */
  def flush(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Runs `f` inside a span; jobs it submits carry the span id. */
  def span[T](name: String, group: String = "")(f: => T): (T, Span) = {
    val parent = stack.headOption
    val s = synchronized {
      val sp = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (group.nonEmpty) group else parent.map(_.group).getOrElse(name),
        System.currentTimeMillis(), System.nanoTime())
      spans += sp
      sp
    }
    stack = s :: stack
    val saved = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try (f, s)
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, saved)
    }
  }

  private def subtree(s: Span): Set[Int] = synchronized {
    var ids = Set(s.id)
    spans.foreach(x => if (ids.contains(x.parent)) ids += x.id) // parents precede children
    ids
  }

  def jobsOf(s: Span): Seq[JobRec] = synchronized {
    val ids = subtree(s)
    jobs.values.filter(j => ids.contains(j.span)).toSeq
  }

  def counters(s: Span): Counters = counters(jobsOf(s))

  def counters(js: Seq[JobRec]): Counters = synchronized {
    js.map { j =>
      j.stages.flatMap(stageCounters.get).foldLeft(Counters(jobs = 1))(_ + _)
    }.foldLeft(Counters())(_ + _)
  }

  /** Wall time minus the union of the job intervals inside the span. */
  def driverGapS(s: Span): Double = gapS(s.startMs, s.endMs, jobsOf(s))

  def gapS(from: Long, until: Long, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.startMs, from), math.min(if (j.endMs < 0) until else j.endMs, until)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (until - from) - covered) / 1e3
  }

  def qesOf(s: Span): Seq[QeRec] = synchronized(qes.filter(q => q.startMs >= s.startMs && q.startMs <= s.endMs).toSeq)

  def planningS(s: Span): Double = qesOf(s).map(_.planningMs).sum / 1e3

  def progressIn(s: Span): Seq[Progress] = synchronized(
    progress.filter(p => p.startMs >= s.startMs && p.startMs <= s.endMs).toSeq)

  def jobsOfBatch(queryStart: Long, queryEnd: Long, batch: Long): Seq[JobRec] = synchronized(
    jobs.values.filter(j => j.batch == batch && j.startMs >= queryStart && j.startMs <= queryEnd).toSeq)

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Spans as JSON lines: name, start, end, parent and shared id. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"group":${Json.str(s.group)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** A job, the span that submitted it and its micro-batch (-1 if none). */
  final case class JobRec(id: Int, span: Int, batch: Long, startMs: Long, stages: Seq[Int],
      var endMs: Long = -1L)
  final case class QeRec(startMs: Long, planningMs: Long, writeRows: Long, generatedRows: Long)
  final case class Progress(batchId: Long, startMs: Long, durations: Map[String, Long])

  val SpanKey = "perfbench.span"
  /** Spark's own local property for a micro-batch's jobs. */
  val BatchKey = "streaming.sql.batchId"

  /** (node name, metric name, value) for every SQL metric in the plan,
    * descending through adaptive plans and query stages. */
  def planMetrics(plan: SparkPlan): Seq[(String, String, Long)] = {
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    def visit(p: SparkPlan): Unit = {
      p.metrics.foreach { case (k, m) => out += ((p.nodeName, k, m.value)) }
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => visit(q.plan)
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    out.toSeq
  }
}
