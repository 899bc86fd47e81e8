package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * the benchmark's own spans line up with the scheduler's job times
  * (which are epoch milliseconds).
  */
final class Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

final case class Span(
    id: Int, parent: Int, name: String, layer: String,
    startMs: Double, var endMs: Double)

/** Task and job counters of the jobs that ran under one span. */
final class SpanCounters {
  var jobs = 0L
  var stageJobs = 0L
  var stageJobMs = 0.0
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var skewMax = 0.0
}

/** Counters that Spark reports without a job, so without the span
  * property: planning phases, streaming progress and codegen.
  * Snapshots taken at query boundaries attribute them to queries.
  */
final case class Globals(
    planMs: Double = 0, plans: Long = 0, batches: Long = 0,
    addBatchMs: Double = 0, walCommitMs: Double = 0,
    commitOffsetsMs: Double = 0, streamPlanningMs: Double = 0,
    compiles: Long = 0) {
  def -(o: Globals): Globals = Globals(
    planMs - o.planMs, plans - o.plans, batches - o.batches,
    addBatchMs - o.addBatchMs, walCommitMs - o.walCommitMs,
    commitOffsetsMs - o.commitOffsetsMs,
    streamPlanningMs - o.streamPlanningMs, compiles - o.compiles)
  def +(o: Globals): Globals = Globals(
    planMs + o.planMs, plans + o.plans, batches + o.batches,
    addBatchMs + o.addBatchMs, walCommitMs + o.walCommitMs,
    commitOffsetsMs + o.commitOffsetsMs,
    streamPlanningMs + o.streamPlanningMs, compiles + o.compiles)
}

/** Spans around the benchmark's calls into graft, plus the listeners
  * that count the jobs, stages and tasks each call ran. Spans stay in
  * memory; the harness writes them out at exit. Jobs find their span
  * through the `perfbench.span` local property, which the harness sets
  * on its thread around each call; streaming micro-batch threads
  * inherit it from the thread that started the stream.
  */
final class Tracer(spark: SparkSession, clock: Clock) {
  val SpanProp = "perfbench.span"

  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Int, SpanCounters]

  def open(name: String, layer: String, parent: Int): Int = synchronized {
    val id = spans.length
    spans += Span(id, parent, name, layer, clock.nowMs, Double.NaN)
    id
  }
  def close(id: Int): Unit = synchronized { spans(id).endMs = clock.nowMs }
  def record(name: String, layer: String, parent: Int, startMs: Double, endMs: Double): Span =
    synchronized {
      val s = Span(spans.length, parent, name, layer, startMs, endMs)
      spans += s
      s
    }

  private def countersOf(span: Int): SpanCounters =
    counters.getOrElseUpdate(span, new SpanCounters)

  @volatile private var g = Globals()
  def globals: Globals = {
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    g.copy(compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount)
  }

  private case class JobInfo(span: Int, startMs: Long, pipelineStage: Boolean)
  private val jobs = mutable.Map.empty[Int, JobInfo]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs(e.jobId) = JobInfo(span, e.time, desc.startsWith("stage:"))
      e.stageIds.foreach(stageSpan(_) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).filter(_.span >= 0).foreach { j =>
        val c = countersOf(j.span)
        val ms = (e.time - j.startMs).toDouble
        c.jobs += 1
        if (j.pipelineStage) { c.stageJobs += 1; c.stageJobMs += ms }
        record(s"job ${e.jobId}", "job", j.span, j.startMs.toDouble, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val key = (info.stageId, info.attemptNumber())
      val durations = stageTaskMs.remove(key).getOrElse(mutable.ArrayBuffer.empty[Long])
      stageSpan.get(info.stageId).filter(_ >= 0).foreach { span =>
        val c = countersOf(span)
        c.stages += 1
        // a stage whose longest task is short has no straggler to speak of
        if (durations.length >= 2 && durations.max >= 100) {
          val sorted = durations.sorted
          val median = math.max(1L, sorted(sorted.length / 2))
          c.skewMax = math.max(c.skewMax, sorted.last.toDouble / median)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val span = stageSpan.getOrElse(e.stageId, -1)
      val m = e.taskMetrics
      if (span >= 0 && m != null) {
        val c = countersOf(span)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      Tracer.this.synchronized { g = g.copy(planMs = g.planMs + ms, plans = g.plans + 1) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      def ms(k: String) = d.getOrElse(k, 0.0)
      Tracer.this.synchronized {
        g = g.copy(
          batches = g.batches + 1,
          addBatchMs = g.addBatchMs + ms("addBatch"),
          walCommitMs = g.walCommitMs + ms("walCommit"),
          commitOffsetsMs = g.commitOffsetsMs + ms("commitOffsets"),
          streamPlanningMs = g.streamPlanningMs + ms("queryPlanning"))
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }
  def detach(): Unit = {
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** A span's duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    kids.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    (s.endMs - s.startMs) - covered
  }
  private lazy val children: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  def descendants(root: Int): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var frontier = Seq(root)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(children.getOrElse(_, Nil))
      out ++= next
      frontier = next.map(_.id)
    }
    out.toSeq
  }
}
