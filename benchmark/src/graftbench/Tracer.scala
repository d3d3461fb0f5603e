package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished query action, as the query-execution listener saw it. */
final case class Action(funcName: String, qe: QueryExecution, planningS: Double,
                        scanRows: Long, scanBytes: Long, writeFiles: Long,
                        writeBytes: Long, writeRows: Long, commitS: Double)

/** A traced call into one layer. `actions` are the query actions the
  * call ran; `pausedNs` is time spent waiting for listener delivery
  * inside the span, which is tracing cost and not the layer's.
  */
final class Span(val layer: String, val name: String, val parent: Option[Span],
                 val startNs: Long) {
  var endNs: Long = startNs
  var pausedNs: Long = 0L
  /** Spark work (jobs, tasks, shuffle bytes …) done during the span. */
  var spark: LayerCounters = new LayerCounters
  val children = mutable.ArrayBuffer[Span]()
  val actions = mutable.ArrayBuffer[Action]()
  def durS: Double = (endNs - startNs - pausedNs) / 1e9
  def selfS: Double = durS - children.map(_.durS).sum
}

/** Spark-wide counters of one layer, from the task and job listener. */
final class LayerCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var fetchWaitMs = 0L; var spillBytes = 0L

  def add(o: LayerCounters, sign: Long = 1L): LayerCounters = {
    jobs += sign * o.jobs; stages += sign * o.stages; tasks += sign * o.tasks
    taskRunMs += sign * o.taskRunMs; taskCpuNs += sign * o.taskCpuNs
    gcMs += sign * o.gcMs; shuffleWriteBytes += sign * o.shuffleWriteBytes
    fetchWaitMs += sign * o.fetchWaitMs; spillBytes += sign * o.spillBytes
    this
  }
}

object LayerCounters {
  def minus(a: LayerCounters, b: LayerCounters): LayerCounters =
    new LayerCounters().add(a).add(b, -1L)
}

/** The traced run's recorder. Spans are taken only around the
  * benchmark's own calls into graft; each span sets the Spark job
  * description `bench:<workload>:<layer>`, so jobs a call submits
  * eagerly are counted for that call's layer. Everything stays in memory
  * until the run writes its record.
  */
final class Tracer(spark: SparkSession, workload: String) extends Spans {
  private val sc = spark.sparkContext
  val roots = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
  val layers = mutable.LinkedHashMap[String, LayerCounters]()
  private val stageLayer = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private def counters(layer: String): LayerCounters =
    layers.getOrElseUpdate(layer, new LayerCounters)

  private def layerOf(desc: String): String =
    Option(desc).filter(_.startsWith(s"bench:$workload:"))
      .map(_.stripPrefix(s"bench:$workload:")).getOrElse("other")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val layer = layerOf(e.properties.getProperty("spark.job.description"))
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageLayer(_) = layer)
      counters(layer).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      counters(stageLayer.getOrElse(e.stageInfo.stageId, "other")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = counters(stageLayer.getOrElse(e.stageId, "other"))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pending.add(Tracer.action(funcName, qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private var codegenStart = (0L, 0.0)
  private var startNs = 0L
  var wallNs = 0L

  def start(): Unit = {
    ListenerBus.drain(sc)
    pending.clear()
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    codegenStart = Tracer.codegen()
    startNs = System.nanoTime()
  }

  /** Ends the traced window of the workload's own run; probes that run
    * after it still record spans but no longer count in the window's
    * Spark totals, idle time or codegen time.
    */
  def mark(): Unit = {
    wallNs = System.nanoTime() - startNs
    ListenerBus.drain(sc)
    val (n1, s1) = Tracer.codegen()
    codegenS = if (n1 == codegenStart._1) 0.0 else (s1 - codegenStart._2) / 1000.0
    window = totals
    driverIdleS = idle(synchronized(jobIntervals.toList))
  }

  def stop(): Unit = {
    ListenerBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Compilation time of generated code during the traced window. The
    * codegen histogram keeps a sample of timings, so this is its mean
    * times its count: exact until the sample fills, an estimate after.
    */
  var codegenS = 0.0
  /** Spark totals of the traced window. */
  var window = new LayerCounters
  /** Wall time inside the traced window during which no Spark job ran. */
  var driverIdleS = 0.0

  def span[T](layer: String, name: String)(body: => T): T = {
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val before = totals
    val s = new Span(layer, name, stack.headOption, System.nanoTime())
    s.parent.fold(roots += s)(_.children += s)
    stack = s :: stack
    sc.setJobDescription(s"bench:$workload:$layer")
    try body
    finally {
      s.endNs = System.nanoTime()
      ListenerBus.drain(sc)
      var a = pending.poll()
      while (a != null) { s.actions += a; a = pending.poll() }
      s.spark = LayerCounters.minus(totals, before)
      val waited = System.nanoTime() - s.endNs
      stack = stack.tail
      stack.foreach(_.pausedNs += waited)
      sc.setJobDescription(prevDesc)
    }
  }

  def allSpans: Seq[Span] = {
    def walk(s: Span): Seq[Span] = s +: s.children.toSeq.flatMap(walk)
    roots.toSeq.flatMap(walk)
  }

  def spansOf(layer: String): Seq[Span] = allSpans.filter(_.layer == layer)
  def spansNamed(name: String): Seq[Span] = allSpans.filter(_.name == name)

  /** Layer self time: each span's duration minus its child spans. */
  def selfS(layer: String): Double = spansOf(layer).map(_.selfS).sum

  private def idle(intervals: List[(Long, Long)]): Double = {
    val iv = intervals.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, wallNs / 1e9 - covered / 1000.0)
  }

  def totals: LayerCounters = synchronized {
    layers.values.foldLeft(new LayerCounters)(_.add(_))
  }

  /** The per-span record written to the run's record file. */
  def spanRecords: Seq[Map[String, Any]] = allSpans.map { s =>
    Map("layer" -> s.layer, "name" -> s.name,
      "parent" -> s.parent.map(_.name).getOrElse(""),
      "dur_s" -> s.durS, "self_s" -> s.selfS, "actions" -> s.actions.size,
      "planning_s" -> s.actions.map(_.planningS).sum,
      "scan_rows" -> s.actions.map(_.scanRows).sum,
      "write_rows" -> s.actions.map(_.writeRows).sum)
  }
}

object Tracer {

  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, h.getSnapshot.getMean * n)
  }

  /** Every node of an executed plan, through adaptive stages. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case p => p +: p.children.flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def action(funcName: String, qe: QueryExecution): Action = {
    val phases = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum / 1000.0
    val all = nodes(qe.executedPlan)
    val scans = all.collect { case s: FileSourceScanExec => s }
    val writes = all.collect { case w: DataWritingCommandExec => w }
    def wm(name: String) = writes.map(w => metric(w, name)).sum
    Action(funcName, qe, planning,
      scans.map(metric(_, "numOutputRows")).sum,
      scans.map(metric(_, "filesSize")).sum,
      wm("numFiles"), wm("numOutputBytes"), wm("numOutputRows"),
      (wm("jobCommitTime") + wm("taskCommitTime")) / 1000.0)
  }
}
