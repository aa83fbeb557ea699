package perfbench

import java.util.Properties
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for a root span. Times are
  * epoch milliseconds with a nanosecond-derived fraction, so spans
  * and Spark listener events (epoch ms) share one clock. */
final case class Span(id: Long, name: String, parent: Long, start: Double, end: Double)

/** Span recorder plus the Spark-side counters, all taken from outside
  * the engine: a SparkListener and a QueryExecutionListener that the
  * benchmark registers, and timing wrappers around the calls the
  * workloads make. Spans stay in memory until the run writes them.
  *
  * The active span id travels as a Spark local property, so every
  * job, stage and task (and every child thread, which inherits local
  * properties) is attributed to the operation that caused it.
  * Listener events are counted only while `active` is set: untraced
  * rounds of a traced run pay for a registered but idle listener. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile var active = false
  private val sc: SparkContext = spark.sparkContext
  private val epoch0 = System.currentTimeMillis() - System.nanoTime() / 1e6
  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  def nowMs: Double = epoch0 + System.nanoTime() / 1e6

  /** Run `body` inside a span named `name`, child of the current one. */
  def span[T](name: String)(body: => T): T = {
    val parent = Option(sc.getLocalProperty(SpanKey)).map(_.toLong).getOrElse(0L)
    val id = synchronized { nextId += 1; nextId }
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      sc.setLocalProperty(SpanKey, if (parent == 0L) null else parent.toString)
      synchronized(spans += Span(id, name, parent, t0, t1))
    }
  }

  def lastSpan(name: String): Span = synchronized(spans.findLast(_.name == name).get)

  /** Whether span `id` is `ancestor` or lies below it. */
  private def under(id: Long, ancestor: Long, parents: Map[Long, Long]): Boolean = {
    var cur = id
    while (cur != 0L && cur != ancestor) cur = parents.getOrElse(cur, 0L)
    cur == ancestor && ancestor != 0L
  }
  private def parents = synchronized(spans.map(s => s.id -> s.parent).toMap)

  // ---- listener state (guarded by `this`)
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var cpuNs = 0L; var runMs = 0L; var schedDelayMs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L; var outBytes = 0L; var outRecords = 0L
  }

  val bySpan = mutable.HashMap.empty[Long, Counters]
  val jobs = mutable.HashMap.empty[Int, Job]
  private val stageOf = mutable.HashMap.empty[Int, (Long, Long)] // stage -> (span, exec)
  val execCpuNs = mutable.HashMap.empty[Long, Long]
  // QueryExecutionListener records, keyed by query execution; the SQL
  // execution-end event ties each query execution to its execution id
  private val byQe = new java.util.IdentityHashMap[QueryExecution, Exec]()
  private val qeOfExec = mutable.HashMap.empty[Long, QueryExecution]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cacheBytes = 0L
  var cachePeakBytes = 0L

  private def counters(span: Long) = bySpan.getOrElseUpdate(span, new Counters)

  private def spanOf(props: Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
  private def execOf(props: Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) Tracer.this.synchronized {
      val span = spanOf(e.properties); val exec = execOf(e.properties)
      jobs(e.jobId) = Job(span, exec, e.time, e.time)
      counters(span).jobs += 1
      e.stageIds.foreach(s => stageOf(s) = (span, exec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) Tracer.this.synchronized {
        stageOf.get(e.stageInfo.stageId).foreach { case (span, _) => counters(span).stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) Tracer.this.synchronized {
      val (span, exec) = stageOf.getOrElse(e.stageId, (0L, -1L))
      val c = counters(span)
      c.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRecords += m.outputMetrics.recordsWritten
        c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResultTime > 0) e.taskInfo.finishTime - e.taskInfo.gettingResultTime
           else 0L))
        if (exec >= 0) execCpuNs(exec) = execCpuNs.getOrElse(exec, 0L) + m.executorCpuTime
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (active) {
      org.apache.spark.sql.perfbenchaccess.SqlEvents.executionEnd(e).foreach { case (id, qe) =>
        Tracer.this.synchronized(qeOfExec(id) = qe)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (active) Tracer.this.synchronized {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD) {
          val key = info.blockId.name
          val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          cacheBytes += size - blocks.getOrElse(key, 0L)
          if (size == 0L) blocks.remove(key) else blocks(key) = size
          cachePeakBytes = math.max(cachePeakBytes, cacheBytes)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (active) {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val graft = qe.tracker.rules.filter(_._1.startsWith("graft."))
      val kernel = scala.util.Try(qe.optimizedPlan.exists(_.expressions.exists(
        _.exists(_.prettyName.startsWith("graft_"))))).getOrElse(false)
      val x = Exec(ms("analysis"), ms("optimization"), ms("planning"),
        graft.values.map(_.totalTimeNs).sum, graft.values.map(_.numInvocations).sum,
        graft.values.map(_.numEffectiveInvocations).sum, kernel)
      Tracer.this.synchronized(byQe.put(qe, x))
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Block until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.perfbenchaccess.Bus.drain(sc)

  def resetCachePeak(): Unit = synchronized { cachePeakBytes = cacheBytes }

  /** Jobs attributed to span `id` or any span below it. */
  def jobsUnder(id: Long): Seq[Job] = {
    val ps = parents
    synchronized(jobs.values.toSeq).filter(j => under(j.span, id, ps))
  }

  /** Engine-side figures of the operation span `op`, read after
    * drain(): jobs, stages and tasks with their metrics, planning
    * phases and graft rule activity of its executions, task CPU of
    * executions whose plan holds a graft_* function, and the part of
    * the span no job covers (driver-only time). */
  def engineLayers(op: Span): Map[String, Double] = {
    val ps = parents
    val c = new Counters
    synchronized(bySpan.toSeq).filter(kv => under(kv._1, op.id, ps)).foreach { case (_, x) =>
      c.jobs += x.jobs; c.stages += x.stages; c.tasks += x.tasks
      c.failedTasks += x.failedTasks; c.cpuNs += x.cpuNs; c.runMs += x.runMs
      c.schedDelayMs += x.schedDelayMs; c.gcMs += x.gcMs
      c.inputBytes += x.inputBytes; c.shuffleRead += x.shuffleRead
      c.shuffleWrite += x.shuffleWrite; c.spill += x.spill
      c.outBytes += x.outBytes; c.outRecords += x.outRecords
    }
    val js = jobsUnder(op.id)
    val ex = synchronized(js.map(_.exec).filter(_ >= 0).distinct
      .flatMap(i => qeOfExec.get(i).flatMap(qe => Option(byQe.get(qe))).map(i -> _)))
    val kernelCpuNs = synchronized(ex.filter(_._2.kernel).map(e => execCpuNs.getOrElse(e._1, 0L)).sum)
    val mb = 1048576.0
    Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble, "spark.failed_tasks" -> c.failedTasks.toDouble,
      "spark.task_cpu_s" -> c.cpuNs / 1e9, "spark.task_run_s" -> c.runMs / 1e3,
      "spark.scheduler_delay_s" -> c.schedDelayMs / 1e3, "spark.gc_s" -> c.gcMs / 1e3,
      "spark.shuffle_read_mb" -> c.shuffleRead / mb,
      "spark.shuffle_write_mb" -> c.shuffleWrite / mb, "spark.spill_mb" -> c.spill / mb,
      "spark.analysis_s" -> ex.map(_._2.analysisMs).sum / 1e3,
      "spark.optimizer_s" -> ex.map(_._2.optimizerMs).sum / 1e3,
      "spark.planning_s" -> ex.map(_._2.planningMs).sum / 1e3,
      "plans.rule_s" -> ex.map(_._2.graftRuleNs).sum / 1e9,
      "plans.rule_runs" -> ex.map(_._2.graftRuleRuns).sum.toDouble,
      "plans.rule_effective" -> ex.map(_._2.graftRuleEffective).sum.toDouble,
      "functions.kernel_task_cpu_s" -> kernelCpuNs / 1e9,
      "sources.scan_mb" -> c.inputBytes / mb,
      "out_mb" -> c.outBytes / mb, "out_records" -> c.outRecords.toDouble,
      "driver_s" -> (op.end - op.start -
        Tracer.unionLength(js.map(j => (j.start, j.end)), op.start, op.end)) / 1e3)
  }

  def writeSpans(path: String): Unit = {
    val lines = synchronized(spans.toSeq).map(s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Job(span: Long, exec: Long, start: Long, var end: Long)
  final case class Exec(analysisMs: Double, optimizerMs: Double, planningMs: Double,
      graftRuleNs: Long, graftRuleRuns: Long, graftRuleEffective: Long, kernel: Boolean)

  /** Length of the union of closed intervals, clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Long, Long)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    for ((s0, e0) <- iv.map(p => (math.max(p._1.toDouble, lo), math.min(p._2.toDouble, hi)))
        .filter(p => p._2 > p._1).sortBy(_._1)) {
      if (curS.isNaN || s0 > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
