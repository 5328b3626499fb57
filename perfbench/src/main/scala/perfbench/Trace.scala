package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: an operation, a public call inside it, or (when
  * tracing) a Spark job attributed to the innermost span that submitted
  * it. Times are epoch milliseconds plus a nanoTime duration. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, startNs: Long) {
  var endMs: Long = startMs
  var durNs: Long = 0L
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def seconds: Double = durNs / 1e9
}

/** Aggregated task metrics of one Spark job. */
final class JobRec(val id: Int, val span: Int, val startMs: Long,
    val site: String, val stages: Seq[Int]) {
  var endMs: Long = -1L
  var stagesRun = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
}

/** Query-planning phases of one executed query (QueryExecution.tracker). */
final case class PlanRec(startMs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, nodes: Int)

/** Span recorder. Untraced, a span is a stopwatch and nothing else. Traced,
  * every span tags the jobs it submits (a thread-local Spark property the
  * SQL layer propagates to broadcast and subquery threads), and a listener
  * collects job, stage and task metrics plus the planning phases of every
  * executed query. Everything stays in memory until [[write]]. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1

  val jobs = new ConcurrentHashMap[Integer, JobRec]()
  private val stageJob = new ConcurrentHashMap[Integer, JobRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      lastEventMs = System.currentTimeMillis()
      val props = Option(j.properties)
      val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(j.stageInfos.lastOption.map(_.name))
        .getOrElse("?").takeWhile(_ != '\n')
      val rec = new JobRec(j.jobId, span, j.time, site, j.stageIds)
      jobs.put(j.jobId, rec)
      j.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      Option(jobs.get(j.jobId)).foreach(_.endMs = j.time)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(s.stageInfo.stageId)).foreach { r =>
        r.synchronized { r.stagesRun += 1 }
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      val r = stageJob.get(t.stageId)
      val m = t.taskMetrics
      if (r != null && m != null) r.synchronized {
        val info = t.taskInfo
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.recordsRead += m.inputMetrics.recordsRead
        r.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private val helper = new AdaptiveSparkPlanHelper {}
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      lastEventMs = System.currentTimeMillis()
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      val nodes = helper.collect(qe.executedPlan) { case p => p }.size
      plans.add(PlanRec(start, ms("analysis"), ms("optimization"),
        ms("planning"), nodes))
    }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var listening = false

  /** Attach the listeners (no-op untraced or when already attached). */
  def start(): Unit = if (traced && !listening) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    listening = true
  }

  /** Drain and detach the listeners; what they recorded is kept. */
  def stop(): Unit = if (listening) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    listening = false
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the bus has been quiet for a moment. */
  def drain(): Unit = if (traced) {
    val deadline = System.currentTimeMillis() + 15000
    def open = jobs.values.asScala.exists(_.endMs < 0)
    while (System.currentTimeMillis() < deadline &&
        (open || System.currentTimeMillis() - lastEventMs < 400))
      Thread.sleep(50)
  }

  /** Time `f` as an operation (a top-level span) with id `op`. Each
    * operation runs under its own Spark job group. */
  def op[A](name: String, op: Int)(f: => A): (A, Span) = {
    currentOp = op
    sc.setJobGroup(s"perfbench-op-$op", name, interruptOnCancel = false)
    try span(name)(f) finally sc.clearJobGroup()
  }

  /** Time `f` as a child of the innermost open span. */
  def span[A](name: String)(f: => A): (A, Span) = {
    val parent = stack.headOption
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      currentOp, System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    if (traced) sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    val gc0 = if (traced && parent.isEmpty) Tracer.gcMs() else 0L
    try {
      val r = f
      (r, s)
    } finally {
      s.durNs = System.nanoTime() - s.startNs
      s.endMs = System.currentTimeMillis()
      if (traced && parent.isEmpty) s.counts("gc_ms") = (Tracer.gcMs() - gc0).toDouble
      stack = stack.tail
      if (traced) sc.setLocalProperty(Tracer.SpanProp,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** The spans under `root` (itself included). */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(go)
    go(root)
  }

  /** Jobs submitted inside `root`'s subtree. */
  def jobsUnder(root: Span): Seq[JobRec] = {
    val ids = subtree(root).map(_.id).toSet
    jobs.values.asScala.filter(j => ids(j.span)).toSeq.sortBy(_.id)
  }

  def jobsIn(s: Span): Seq[JobRec] =
    jobs.values.asScala.filter(_.span == s.id).toSeq

  /** Planning records whose first phase started inside the span. */
  def plansIn(s: Span): Seq[PlanRec] =
    plans.asScala.filter(p => p.startMs >= s.startMs && p.startMs <= s.endMs)
      .toSeq

  /** Self time: a span's duration minus the part its children cover
    * (child spans, and jobs for spans without child spans). */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    val cover =
      if (kids.nonEmpty) Tracer.unionMs(kids.map(k => (k.startMs, k.endMs)).toSeq)
      else Tracer.unionMs(jobsIn(s).filter(_.endMs >= 0)
        .map(j => (j.startMs, j.endMs)))
    math.max(0.0, s.seconds - cover / 1000.0)
  }

  /** Spans and job spans as JSON, one object per line. */
  def write(path: String, t0Ms: Long): Unit = {
    val sb = new StringBuilder
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    spans.foreach { s =>
      val counts = s.counts.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      sb ++= s"""{"id":${s.id},"name":"${esc(s.name)}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ms":${s.startMs - t0Ms},""" +
        s""""end_ms":${s.endMs - t0Ms},"dur_s":${s.seconds},""" +
        s""""self_s":${selfSeconds(s)},"counts":$counts}""" + "\n"
    }
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val op = if (j.span >= 0 && j.span < spans.size) spans(j.span).op else -1
      sb ++= s"""{"id":"job${j.id}","name":"job: ${esc(j.site)}",""" +
        s""""parent":${j.span},"op":$op,"start_ms":${j.startMs - t0Ms},""" +
        s""""end_ms":${j.endMs - t0Ms},"counts":{"stages":${j.stagesRun},""" +
        s""""tasks":${j.tasks},"run_ms":${j.runMs},"cpu_ns":${j.cpuNs},""" +
        s""""gc_ms":${j.gcMs},"sched_delay_ms":${j.schedDelayMs},""" +
        s""""shuffle_read_bytes":${j.shuffleRead},""" +
        s""""shuffle_write_bytes":${j.shuffleWrite},"spill_bytes":${j.spill},""" +
        s""""records_read":${j.recordsRead},"bytes_written":${j.bytesWritten}}}""" +
        "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.result())
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
