package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo

import graft.Engine

/** One benchmark run of one workload, in one JVM:
  *
  *   1. set-up: start the `local[4]` session, generate the seeded
  *      inputs `SetupReps` times (their median counts), run one warm-up
  *      pass;
  *   2. untraced (`--trace 0`): timed passes, closed loop, at least one
  *      and more only while the next is expected to end within
  *      `--seconds`; traced (`--trace 1`): an untraced, a traced and
  *      another untraced pass, then the layer probes;
  *   3. the JVM-side output checks; the run record goes to `--record`
  *      and the DuckDB checks run from it afterwards.
  */
object Main {
  val SetupReps = 3

  /** The benchmark's workloads: graft's two halves, the incremental
    * table sync and the LLM data pipeline. Each pass runs its parts back
    * to back.
    */
  def workload(name: String): Composite = name match {
    case "table_sync" => new Composite(name, Seq(new ExportSnapshot, new CdcChain))
    case "llm_pipeline" => new Composite(name, Seq(new CurateDedup, new AnnSearch))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest heap in use after any collection while `on`: every
    * collector's notification, its after-collection usage summed over
    * the heap pools.
    */
  private final class HeapPeak extends NotificationListener {
    @volatile var on = false
    val peak = new AtomicLong(0L)
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }

    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      }

    def mb: Double = peak.get / 1048576.0
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = json.writeValue(new File(path), v)

  /** Fixed-work host canary: the same integer mixing loop on each of the
    * session's 4 cores, so a host whose cores are taken by others shows
    * in the record. Never used to rescale metrics.
    */
  private def canaryS(): Double = {
    val t0 = System.nanoTime()
    val threads = Seq.fill(4)(new Thread(() => {
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) println("")
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val dir = s"$work/inputs"
    val out = s"$work/out"
    val ops = new Ops
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "trace" -> traced, "seconds" -> seconds,
      "inputs" -> dir, "out" -> out)

    record("jvm_to_main_s") = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val t0 = System.nanoTime()
    val spark = Engine.session(master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val canaryBefore = canaryS()

    val genS = (1 to SetupReps).map { _ =>
      val r0 = System.nanoTime()
      w.generate(spark, new Inputs(seed), dir)
      (System.nanoTime() - r0) / 1e9
    }
    // Warm-up: one pass pays the cold JIT and codegen cost.
    val w0 = System.nanoTime()
    w.pass(spark, dir, out, ops, NoSpans, warmUp = true)
    val warmS = (System.nanoTime() - w0) / 1e9
    record("session_s") = sessionS
    record("generate_s") = genS
    record("warmup_s") = warmS
    record("setup_s") = sessionS + median(genS) + warmS

    val passS = mutable.ArrayBuffer[Double]()
    val rowsPerPass = mutable.ArrayBuffer[Long]()
    val heap = new HeapPeak
    def timedPass(): Unit = {
      // A full collection first, outside the timing: the old generation
      // then holds what set-up and earlier passes left live, not their
      // garbage, and the peak reflects this pass.
      System.gc()
      ops.timing = true
      heap.on = true
      val p0 = System.nanoTime()
      rowsPerPass += w.pass(spark, dir, out, ops, NoSpans)
      passS += (System.nanoTime() - p0) / 1e9
      heap.on = false
      ops.timing = false
    }

    val layer = mutable.LinkedHashMap[String, Double]()
    if (!traced) {
      // Closed loop: whole passes back to back; another starts only while
      // a pass of the median length still ends within `seconds`.
      val start = System.nanoTime()
      while (passS.isEmpty || (System.nanoTime() - start) / 1e9 + median(passS.toSeq) <= seconds)
        timedPass()
    } else {
      // Untraced, traced, untraced: the overhead compares the traced pass
      // with the mean of its untraced neighbours, which cancels the
      // passes' steady speed-up as the JIT warms.
      timedPass()
      val tracer = new Tracer(spark, w.name)
      tracer.start()
      val tp0 = System.nanoTime()
      w.pass(spark, dir, out, ops, tracer)
      val tracedRunS = (System.nanoTime() - tp0) / 1e9
      tracer.mark()
      tracer.stop()
      timedPass()
      w.checks(spark, dir, out).foreach(ops.fail)
      tracer.start()
      w.probes(spark, dir, out, tracer, layer)
      tracer.stop()
      val tot = tracer.window
      val real = tracer.allSpans.filterNot(_.name.startsWith("probe:"))
      val acts = real.flatMap(_.actions)
      val sinkActs = real.filter(_.layer == "sinks").flatMap(_.actions)
      layer("sources.rows_read") = acts.map(_.scanRows).sum.toDouble
      layer("sources.bytes_read") = acts.map(_.scanBytes).sum.toDouble
      layer("sync.plan_s") = acts.map(_.planningS).sum
      layer.getOrElseUpdate("sinks.write_s", real.filter(_.layer == "sinks").map(_.selfS).sum)
      layer("sinks.commit_s") = sinkActs.map(_.commitS).sum
      layer("sinks.files") = sinkActs.map(_.writeFiles).sum.toDouble
      layer("sinks.bytes") = sinkActs.map(_.writeBytes).sum.toDouble
      layer("sinks.rows") = sinkActs.map(_.writeRows).sum.toDouble
      val wallS = tracer.wallNs / 1e9
      layer("spark.jobs") = tot.jobs.toDouble
      layer("spark.stages") = tot.stages.toDouble
      layer("spark.tasks") = tot.tasks.toDouble
      layer("spark.codegen_s") = tracer.codegenS
      layer("spark.task_cpu_s") = tot.taskCpuNs / 1e9
      layer("spark.core_busy_ratio") = tot.taskRunMs / 1000.0 / (wallS * 4)
      layer("spark.shuffle_write_bytes") = tot.shuffleWriteBytes.toDouble
      layer("spark.shuffle_fetch_wait_s") = tot.fetchWaitMs / 1000.0
      layer("spark.spill_bytes") = tot.spillBytes.toDouble
      layer("spark.gc_s") = tot.gcMs / 1000.0
      layer("spark.driver_idle_s") = tracer.driverIdleS
      layer("trace.run_s") = tracedRunS
      layer("trace.overhead_s") = tracedRunS - passS.sum / passS.size
      record("spans") = tracer.spanRecords
      record("layer_self_s") = tracer.allSpans.map(_.layer).distinct
        .map(l => l -> tracer.selfS(l)).toMap
      record("layer_spark") = tracer.layers.map { case (l, c) =>
        l -> Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_run_s" -> c.taskRunMs / 1000.0, "shuffle_write_bytes" -> c.shuffleWriteBytes)
      }
    }
    // Before set-up and after the measured passes.
    record("canary_s") = Seq(canaryBefore, canaryS())
    if (!traced) w.checks(spark, dir, out).foreach(ops.fail)
    w.record.foreach { case (k, v) => record(k) = v }

    record("pass_s") = passS.toSeq
    record("rows_per_pass") = rowsPerPass.toSeq
    record("batch_runs") = w.batchRuns.map { case (r, s) => Map("rows" -> r, "s" -> s) }
    record("op_latency_s") = ops.latencies.map { case (n, s) => Map("op" -> n, "s" -> s) }
    record("peak_heap_mb") = heap.mb
    record("attempted") = ops.attempted
    record("failed") = ops.failed
    record("errors") = ops.errors.toSeq
    record("layer") = layer
    record("manifest") = w.manifest(dir, out)
    writeJson(opts("record"), record)
    spark.stop()
  }
}
