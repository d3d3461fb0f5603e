package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Md5, StructsToJson}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Engine, ExportSpec, HashSpec, Tables}
import graft.operators.{RowHash, Sync, SyncMode}
import graft.sinks.{FileSink, SinkSpec}

/** The reference export job: sync plan → md5 row hash → gzip sink, for
  * the `full`, `time-based` and `scd-latest` modes into JSON plus one
  * CSV export. Scan, hash and encode dominate; per-job fixed cost is
  * small next to them.
  */
final class ExportSnapshot extends Workload("export_snapshot") {
  import ExportSnapshot._

  def generate(spark: SparkSession, in: Inputs, dir: String): Unit = {
    Inputs.write(in.lineitem(spark, LineitemRows), dir, "lineitem")
    Inputs.write(in.events(spark, EventRows, Users), dir, "events")
  }

  private val hash = Some(HashSpec(HashCol))

  /** (job name, source table, spec). */
  def jobs(out: String): Seq[(String, String, ExportSpec)] = Seq(
    ("full_lineitem", "lineitem",
      ExportSpec(SyncMode.Full, hash = hash, sink = Some(SinkSpec("json", s"$out/full_lineitem")))),
    ("time_based_events", "events",
      ExportSpec(SyncMode.TimeBased("ts", CutoffMs, DelayMs, NowMs),
        nonNullableCols = Seq("event_type", "props"), hash = hash,
        sink = Some(SinkSpec("json", s"$out/time_based_events")))),
    ("scd_latest_events", "events",
      ExportSpec(SyncMode.ScdLatest("user_id", "ts", keepRank = false,
          tieBreakers = Seq("event_id")), hash = hash,
        sink = Some(SinkSpec("json", s"$out/scd_latest_events")))),
    ("full_events_csv", "events",
      ExportSpec(SyncMode.Full, hash = hash, sink = Some(SinkSpec("csv", s"$out/full_events_csv")))))

  private val audit = new Md5Audit

  override def batch: Boolean = true

  def pass(spark: SparkSession, dir: String, out: String, ops: Ops, sp: Spans,
           warmUp: Boolean): Long = {
    if (!audit.registered) { spark.listenerManager.register(audit); audit.registered = true }
    jobs(out).map { case (job, table, spec) =>
      ops.op(job) {
        if (sp eq NoSpans) Engine.run(Tables.load(spark, dir, table), spec)
        else {
          // Engine.run's steps, one span per layer (row-count guard off).
          val src = sp.span("sources", s"load:$job")(Tables.load(spark, dir, table))
          val planned = sp.span("sync", s"plan:$job")(
            Sync.plan(src, spec.mode, spec.nonNullableCols))
          val hashed = sp.span("rowhash", s"hash:$job")(
            RowHash.withHashColumn(planned, HashCol))
          sp.span("sinks", s"write:$job")(FileSink.write(hashed, spec.sink.get))
        }
      }
      if (table == "lineitem") LineitemRows else EventRows
    }.sum
  }

  def probes(spark: SparkSession, dir: String, out: String, t: Tracer,
             m: mutable.Map[String, Double]): Unit = {
    var scanS, syncS, hashS, sinkS = 0.0
    var shuffle = 0L
    jobs(out).foreach { case (job, table, spec) =>
      // Best of two: the differences below are small next to run noise.
      def timed(layer: String, what: String)(body: => Unit): Double =
        (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          t.span(layer, s"probe:$what:$job")(body)
          (System.nanoTime() - t0) / 1e9
        }.min
      val src = Tables.load(spark, dir, table)
      val planned = Sync.plan(src, spec.mode, spec.nonNullableCols)
      val hashed = RowHash.withHashColumn(planned, HashCol)
      val scan = timed("sources", "noop_scan")(noop(src))
      val sync = timed("sync", "noop_sync")(noop(planned))
      val hashT = timed("rowhash", "noop_hash")(noop(hashed))
      val sink = timed("sinks", "sink")(FileSink.write(hashed, spec.sink.get))
      scanS += scan; syncS += sync - scan; hashS += hashT - sync; sinkS += sink - hashT
      if (job == "scd_latest_events")
        shuffle += t.spansNamed(s"probe:noop_sync:$job").head.spark.shuffleWriteBytes
    }
    m("sources.scan_s") = scanS
    m("sync.self_s") = syncS
    m("rowhash.self_s") = hashS
    m("sinks.write_s") = sinkS
    m("sync.window_shuffle_bytes") = shuffle.toDouble
    val names = jobs(out).map { case (job, _, _) => s"write:$job" }.toSet
    val writes = t.allSpans.filter(s => names.contains(s.name)).flatMap(_.actions)
    m("rowhash.rows") = writes.map(_.writeRows).sum.toDouble
    m("sync.rows_dropped") =
      (writes.map(_.scanRows).sum - writes.map(_.writeRows).sum).toDouble
  }

  override def checks(spark: SparkSession, dir: String, out: String): Seq[String] = {
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    val bad = audit.missing.toArray.toSeq
    (if (audit.seen == 0) Seq("md5 audit saw no export write") else Nil) ++
      bad.map(p => s"export write without the md5(to_json(struct)) projection: $p")
  }

  override def record: Map[String, Any] = Map("md5_audited_writes" -> audit.seen)

  def manifest(dir: String, out: String): Map[String, Any] = Map(
    "hash_col" -> HashCol, "cutoff_ms" -> CutoffMs, "delay_ms" -> DelayMs,
    "now_ms" -> NowMs,
    "jobs" -> jobs(out).map { case (job, table, spec) =>
      Map("job" -> job, "table" -> table, "format" -> spec.sink.get.format,
        "path" -> spec.sink.get.uri)
    })
}

object ExportSnapshot {
  val LineitemRows = 120000L
  val EventRows = 60000L
  val Users = 2000L
  val HashCol = "row_hash"
  val DayMs = 86400000L
  val CutoffMs: Long = Inputs.EventsStartMs + 5 * DayMs
  val NowMs: Long = Inputs.EventsStartMs + 28 * DayMs
  val DelayMs: Long = 3600000L

  /** Holds every export write to the rule that its optimized plan keeps
    * the `md5(to_json(struct(...)))` projection, so no timed action can
    * skip the hash (a `count()` would let the optimizer prune it).
    */
  final class Md5Audit extends QueryExecutionListener {
    @volatile var registered = false
    @volatile var seen = 0
    val missing = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.optimizedPlan match {
        case w: InsertIntoHadoopFsRelationCommand
            if Seq("json", "csv").contains(w.fileFormat.toString.toLowerCase) =>
          seen += 1
          // Spark 4 plans to_json as an Invoke of its evaluator.
          val hasMd5 = w.exists(_.expressions.exists(_.exists {
            case Md5(c) => c.exists(_.isInstanceOf[CreateNamedStruct]) &&
              (c.exists(_.isInstanceOf[StructsToJson]) ||
                c.toString.contains("StructsToJsonEvaluator"))
            case _ => false
          }))
          if (!hasMd5) missing.add(w.simpleString(200))
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
