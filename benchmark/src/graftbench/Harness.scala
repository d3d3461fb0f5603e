package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where a workload's calls into graft are wrapped: untraced runs pass
  * [[NoSpans]], the traced run passes its [[Tracer]].
  */
trait Spans {
  def span[T](layer: String, name: String)(body: => T): T
}

object NoSpans extends Spans {
  def span[T](layer: String, name: String)(body: => T): T = body
}

/** Operation accounting for one run: every call the closed-loop client
  * makes is attempted once; an exception or a failed output check counts
  * as a failure. Latencies are kept only while `timing` is on.
  */
final class Ops {
  var timing = false
  /** (operation name, seconds) of every operation run while timing. */
  val latencies = mutable.ArrayBuffer[(String, Double)]()
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()

  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      if (timing) latencies += ((name, (System.nanoTime() - t0) / 1e9))
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        None
    }
  }

  /** A failed output check: counts as one failed operation. */
  def fail(what: String): Unit = { failed = math.min(attempted, failed + 1); errors += what }
}

/** One benchmark workload. `dir` holds the generated parquet inputs and
  * `out` the outputs of the latest pass.
  */
abstract class Workload(val name: String) {

  /** Writes the seeded inputs as parquet under `dir`. */
  def generate(spark: SparkSession, in: Inputs, dir: String): Unit

  /** One pass of the workload's fixed unit of work; returns the number of
    * input rows it processed. A warm-up pass runs every code path, but a
    * workload may make fewer of its repeated closed-loop operations there.
    */
  def pass(spark: SparkSession, dir: String, out: String, ops: Ops, sp: Spans,
           warmUp: Boolean = false): Long

  /** A batch part: its input rows per second count in `rows_per_s`. */
  def batch: Boolean = false

  /** Extra traced calls that split the pass's time by layer (the same
    * plan written to `noop` at each prefix, stage-by-stage calls); adds
    * the workload's per-layer metrics.
    */
  def probes(spark: SparkSession, dir: String, out: String, t: Tracer,
             m: mutable.Map[String, Double]): Unit

  /** Output checks done in the JVM (the rest run in DuckDB afterwards);
    * each failed check is reported as a message.
    */
  def checks(spark: SparkSession, dir: String, out: String): Seq[String] = Nil

  /** What the DuckDB checks need to know about this run's outputs. */
  def manifest(dir: String, out: String): Map[String, Any]

  /** Values for the run record beyond the common ones. */
  def record: Map[String, Any] = Map.empty

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Several workloads run back to back as one: each part keeps its own
  * inputs and outputs under `<dir>/<part>` and `<out>/<part>`.
  */
final class Composite(name: String, parts: Seq[Workload]) extends Workload(name) {

  /** (input rows, seconds) of every batch-part run made while
    * `ops.timing` is on.
    */
  val batchRuns = mutable.ArrayBuffer[(Long, Double)]()

  def generate(spark: SparkSession, in: Inputs, dir: String): Unit =
    parts.foreach(p => p.generate(spark, in, s"$dir/${p.name}"))

  def pass(spark: SparkSession, dir: String, out: String, ops: Ops, sp: Spans,
           warmUp: Boolean): Long =
    parts.map { p =>
      val t0 = System.nanoTime()
      val n = p.pass(spark, s"$dir/${p.name}", s"$out/${p.name}", ops, sp, warmUp)
      if (p.batch && ops.timing) batchRuns += ((n, (System.nanoTime() - t0) / 1e9))
      n
    }.sum

  def probes(spark: SparkSession, dir: String, out: String, t: Tracer,
             m: mutable.Map[String, Double]): Unit =
    parts.foreach { p =>
      val own = mutable.LinkedHashMap[String, Double]()
      p.probes(spark, s"$dir/${p.name}", s"$out/${p.name}", t, own)
      own.foreach { case (k, v) => m(k) = m.getOrElse(k, 0.0) + v }
    }

  override def checks(spark: SparkSession, dir: String, out: String): Seq[String] =
    parts.flatMap(p => p.checks(spark, s"$dir/${p.name}", s"$out/${p.name}"))

  def manifest(dir: String, out: String): Map[String, Any] =
    parts.map(p => p.name -> p.manifest(s"$dir/${p.name}", s"$out/${p.name}")).toMap

  override def record: Map[String, Any] = parts.flatMap(_.record).toMap
}
