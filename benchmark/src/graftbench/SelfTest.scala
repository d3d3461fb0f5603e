package graftbench

import org.apache.spark.sql.catalyst.expressions.Md5

import graft.{Engine, Tables}
import graft.operators.RowHash
import graft.sinks.{FileSink, SinkSpec}

/** The benchmark's own checks, run by `benchmark/test_benchmark.py`:
  *
  *   - writes every workload's inputs for seeds 7, 7 and 8 under
  *     `<work>/seed-<n>-<rep>/<part>`, for the test to checksum;
  *   - runs the md5 audit on an export write with the row hash (must
  *     pass), on one without it (must be caught), and shows that a
  *     `count()` of the hashed plan optimizes the hash away, which is why
  *     no timed call ends in a count.
  *
  * Usage: `graftbench.SelfTest <work> <result.json>`.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val Array(work, result) = args
    val spark = Engine.session(master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    for ((seed, rep) <- Seq((7L, 0), (7L, 1), (8L, 0)); name <- Seq("table_sync", "llm_pipeline"))
      Main.workload(name).generate(spark, new Inputs(seed), s"$work/seed-$seed-$rep")

    val dir = s"$work/seed-7-0/export_snapshot"
    val audit = new ExportSnapshot.Md5Audit
    spark.listenerManager.register(audit)
    val events = Tables.load(spark, dir, "events")
    val hashed = RowHash.withHashColumn(events, "row_hash")
    FileSink.write(hashed, SinkSpec("json", s"$work/audit/hashed"))
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    val hashedMissing = audit.missing.size
    FileSink.write(events, SinkSpec("json", s"$work/audit/plain"))
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    val plainMissing = audit.missing.size - hashedMissing
    val countKeepsMd5 = hashed.groupBy().count().queryExecution.optimizedPlan
      .exists(_.expressions.exists(_.exists(_.isInstanceOf[Md5])))
    spark.listenerManager.unregister(audit)

    Main.writeJson(result, Map(
      "audited_writes" -> audit.seen,
      "hashed_write_flagged" -> hashedMissing,
      "plain_write_flagged" -> plainMissing,
      "count_keeps_md5" -> countKeepsMd5))
    spark.stop()
  }
}
