package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of work at a layer boundary. Times are epoch milliseconds
  * with sub-millisecond precision, the clock Spark's events use too.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Double, var end: Double = -1.0)

/** Task-metric totals of a set of Spark jobs. */
final case class JobStats(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    failedTasks: Int = 0, taskMs: Long = 0, cpuMs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    input: Long = 0, output: Long = 0) {
  def +(o: JobStats): JobStats = JobStats(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, failedTasks + o.failedTasks, taskMs + o.taskMs,
    cpuMs + o.cpuMs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill, input + o.input,
    output + o.output)
}

/** Spans around the benchmark's calls into each layer, plus what Spark's own
  * channels report beneath them: jobs and task metrics from a SparkListener,
  * planning phases from a QueryExecutionListener, codegen compiles from
  * CodegenMetrics, GC from the JVM's notifications and micro-batches from
  * StreamingQueryProgress. A job is attributed to the span that was open on
  * the thread that submitted it, through a local property that the stream
  * threads inherit when a query starts. Everything stays in memory until the
  * run ends. Nothing is recorded while `active` is false, so one run can
  * alternate traced and untraced operations and measure its own overhead.
  */
final class Tracer(spark: SparkSession) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Spans are opened and closed on the benchmark's single client thread. */
  @volatile var active = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var stack: List[Span] = Nil

  def open(layer: String, name: String): Span = {
    nextId += 1
    val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), layer, name, now)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.end = now
    stack = stack.dropWhile(_.id != s.id).drop(1)
    sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
  }

  /** Run `body` inside a span when tracing is active, bare otherwise. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val s = open(layer, name)
      try body finally close(s)
    }

  // ---- jobs and tasks -----------------------------------------------------

  private final class JobRec(val id: Int, val span: Long, val start: Double) {
    @volatile var end: Double = -1.0
    var stats = JobStats(jobs = 1)
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(0L)
      val r = new JobRec(e.jobId, sp, e.time.toDouble)
      jobs.put(e.jobId, r)
      e.stageIds.foreach(stageJob.put(_, r))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { r =>
        r.synchronized { r.stats = r.stats.copy(stages = r.stats.stages + 1) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { r =>
        val m = e.taskMetrics
        val failed = e.reason != org.apache.spark.Success
        val t = if (m == null) JobStats(tasks = 1, failedTasks = if (failed) 1 else 0)
        else JobStats(tasks = 1, failedTasks = if (failed) 1 else 0,
          taskMs = m.executorRunTime, cpuMs = m.executorCpuTime / 1000000L,
          gcMs = m.jvmGCTime, shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled,
          input = m.inputMetrics.bytesRead, output = m.outputMetrics.bytesWritten)
        r.synchronized { r.stats = r.stats + t.copy(jobs = 0) }
      }
  }

  // ---- planning phases ----------------------------------------------------

  /** (time the phases started, analysis + optimization + planning ms) */
  private val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  /** (time the phases started, rows out of the query's largest join) */
  private val joins = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (active) record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      if (active) record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.filter { case (k, _) =>
        k == "analysis" || k == "optimization" || k == "planning" }
      if (ph.nonEmpty) {
        val t = ph.values.map(_.startTimeMs).min.toDouble
        planning.add((t, ph.values.map(_.durationMs).sum.toDouble))
        val rows = joinRows(qe.executedPlan)
        if (rows.nonEmpty) joins.add((t, rows.max))
      }
    }
  }

  /** numOutputRows of every join in an executed plan, through adaptive
    * query stages and subqueries. */
  private def joinRows(p: SparkPlan): Seq[Long] = {
    val here = p match {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).toSeq
      case _ => Nil
    }
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    here ++ below.flatMap(joinRows)
  }

  // ---- GC -------------------------------------------------------------------

  @volatile var heapAfterGcPeakMb = 0.0
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, v) if heapPools(k) => v.getUsed }.sum / 1048576.0
        if (used > heapAfterGcPeakMb) heapAfterGcPeakMb = used
      }
  }

  // ---- codegen --------------------------------------------------------------

  /** (compiles, compile ms) so far in this JVM. The histogram keeps every
    * sample up to its reservoir size (1028); past that the sum is the
    * reservoir mean times the count. */
  def codegenTotals(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val sum = if (n <= snap.size) snap.getValues.sum.toDouble else snap.getMean * n
    (n, sum)
  }

  // ---- streaming ------------------------------------------------------------

  val progress = mutable.ArrayBuffer.empty[(Long, StreamingQueryProgress)]

  /** Record a finished drain's micro-batches as child spans of `drain`. */
  def addProgress(drain: Span, ps: Seq[StreamingQueryProgress]): Unit = if (active) {
    ps.foreach { p =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      nextId += 1
      spans += Span(nextId, drain.id, "streaming", s"batch ${p.batchId}", t0, t0 + d)
      progress += ((drain.id, p))
    }
  }

  // ---- lifecycle --------------------------------------------------------------

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    gcBeans.foreach(_.addNotificationListener(gcListener, null, null))
  }

  def uninstall(): Unit = {
    flush()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    gcBeans.foreach(b => try b.removeNotificationListener(gcListener)
      catch { case _: Exception => () })
  }

  /** Deliver every pending listener event. */
  def flush(): Unit = PerfbenchBus.drain(sc)

  // ---- queries over what was recorded ------------------------------------------

  /** Ids of `root` and every span below it. */
  def under(root: Span): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Long): Set[Long] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root.id)
  }

  def jobStats(spanIds: Set[Long]): JobStats =
    jobs.values.asScala.filter(r => spanIds(r.span)).map(_.stats)
      .foldLeft(JobStats())(_ + _)

  /** Planning ms of the queries whose phases started inside `s`. */
  def planningMs(s: Span): Double =
    planning.asScala.collect { case (t, ms) if t >= s.start - 1 && t <= s.end => ms }.sum

  /** Rows out of the largest join of the queries planned inside `s`. */
  def maxJoinRows(s: Span): Long =
    joins.asScala.collect { case (t, n) if t >= s.start - 1 && t <= s.end => n }
      .foldLeft(0L)(math.max)

  /** Each recorded job as a `spark` span, under the micro-batch it ran in
    * when its span is a drain, else under the span that submitted it. */
  private def jobSpans(): Seq[Span] = {
    val batches = spans.filter(_.name.startsWith("batch ")).groupBy(_.parent)
    jobs.values.asScala.toSeq.filter(r => r.span != 0 && r.end >= 0).map { r =>
      val parent = batches.getOrElse(r.span, Nil)
        .find(b => r.start >= b.start && r.start <= b.end).map(_.id).getOrElse(r.span)
      Span(-r.id - 1L, parent, "spark", s"job ${r.id}", r.start, r.end)
    }
  }

  /** Self time per layer, summed over the spans below `roots`: a span's
    * duration minus the part of it that its children cover. */
  def selfTimes(roots: Seq[Span]): Map[String, Double] = {
    val keep = roots.flatMap(under).toSet
    val all = spans.filter(s => keep(s.id) && s.end >= 0) ++
      jobSpans().filter(j => keep(j.parent))
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ivs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var (cs, ce) = (Double.NaN, Double.NaN)
        ivs.foreach { case (a, b) =>
          if (cs.isNaN || a > ce) {
            if (!cs.isNaN) covered += ce - cs
            cs = a; ce = b
          } else ce = math.max(ce, b)
        }
        if (!cs.isNaN) covered += ce - cs
        (s.end - s.start) - covered
      }.sum
    }
  }

}
