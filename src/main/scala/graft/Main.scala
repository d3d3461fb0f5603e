package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.RowHash
import graft.sinks.{FileSink, GcsAuth, SinkSpec}
import graft.sql.QueryBuilder

/** Runnable export job — the reference's `__main__` flow end-to-end
  * (export.py:235–337): argument surface → row-count guard → build query
  * → execute → hash column → sink → orchestrator JSON on stdout.
  *
  * Local table resolution: `--catalog` is a parquet directory (the local
  * stand-in for a Unity catalog), `--table` names `<catalog>/<table>
  * .parquet`; `--schema_name` is accepted for surface parity. The
  * non-CDC sync types execute the exact SQL string [[QueryBuilder]]
  * generates (byte-identical to the reference's generated SQL) against
  * the registered view, so the CLI path and the golden-string parity
  * layer are the same code. CDC runs [[Engine.runCdc]] over the
  * [[sources.ParquetChangeLog]] emulation (no Delta in this environment)
  * while still REPORTING the reference's CDC SQL string in the result
  * JSON.
  *
  * Output contract (export.py:330–337): one JSON line
  * `{"query": <resolved query>, "change_capture_sync_last_commit_ms": N}`
  * on stdout — the notebook-exit payload the orchestrator parses; the
  * caller persists the watermark and passes it back as the next run's
  * `--time_cutoff_ms`.
  */
object Main {

  final case class Args(m: Map[String, String], flags: Set[String]) {
    def str(k: String, dflt: String = ""): String = m.getOrElse(k, dflt)
    def lng(k: String, dflt: Long = 0L): Long = m.get(k).map(_.toLong).getOrElse(dflt)
    def has(k: String): Boolean = flags.contains(k)
  }

  private val BoolFlags = Set("use_custom_sql")

  /** argparse-lite: `--key value` pairs plus store-true flags. */
  def parseArgs(argv: Array[String]): Args = {
    var m = Map.empty[String, String]
    var flags = Set.empty[String]
    var i = 0
    while (i < argv.length) {
      val a = argv(i)
      require(a.startsWith("--"), s"unexpected argument: $a")
      val k = a.drop(2)
      if (BoolFlags.contains(k)) { flags += k; i += 1 }
      else {
        require(i + 1 < argv.length, s"missing value for --$k")
        m += (k -> argv(i + 1)); i += 2
      }
    }
    Args(m, flags)
  }

  /** Sink URI from the reference's `gs://{bucket}//{prefix}/` template
    * (export.py:226, 232); a bucket that already carries a scheme
    * (file:/…, hdfs://…) is used verbatim so local runs don't need GCS.
    */
  def sinkUri(bucket: String, prefix: String): String =
    if (bucket.contains(":/")) s"$bucket/$prefix" else s"gs://$bucket//$prefix/"

  final case class BuildResult(df: DataFrame, query: String,
                               params: Map[String, Any], lastCommitMs: Long)

  /** build_query + execution (export.py:131–190, 203). */
  def build(spark: SparkSession, a: Args): BuildResult = {
    val table = a.str("table")
    val syncType = a.str("sync_type")
    val nonNullable = a.str("non_nullable_columns")
    syncType match {
      case "cdc" =>
        val log = Tables.load(spark, a.str("catalog"), table)
        val src = sources.ParquetChangeLog(log,
          a.str("cdc_key_columns").split(",").toSeq.filter(_.nonEmpty))
        val cutoff = a.lng("time_cutoff_ms")
        // S5 — consistent "now" anchor for an incremental run: the
        // orchestrator-supplied --now_ms when given, else the
        // current-timestamp probe (export.py:63–67, 144). A first sync
        // anchors to the latest commit instead.
        def now = if (a.lng("now_ms") > 0) a.lng("now_ms")
          else spark.sql("SELECT current_timestamp()").head().getInstant(0).toEpochMilli
        if (a.has("use_custom_sql")) {
          val endMs = if (cutoff == 0) src.latestCommitMs() else now
          Tables.registerAll(spark, a.str("catalog"))
          val path = sources.SqlSource.queryPath(
            a.str("queries_base_dir", "/Workspace/External/mixpanel"),
            a.str("mixpanel_project_id"), a.str("catalog_name", a.str("catalog")),
            a.str("schema_name"), table, cutoff)
          val (text, params) = sources.SqlSource.load(path, cutoff, endMs)
          BuildResult(sources.SqlSource.run(spark, text, params), text, params, endMs)
        } else {
          val res = Engine.runCdc(src, cutoff, if (cutoff == 0) 0L else now, None, None)
          val ref = s"${a.str("catalog_name", a.str("catalog"))}.${a.str("schema_name")}.$table"
          val query =
            if (cutoff == 0) QueryBuilder.cdcFirstSync(ref, res.newWatermarkMs)
            else QueryBuilder.cdcIncremental(ref, cutoff, res.newWatermarkMs)
          BuildResult(res.df, query, Map.empty, res.newWatermarkMs)
        }
      case other =>
        val src = Tables.load(spark, a.str("catalog"), table)
        src.createOrReplaceTempView(table)
        val query = other match {
          case "time-based" => QueryBuilder.timeBased(table,
            a.str("updated_time_column"), a.lng("time_cutoff_ms"), nonNullable,
            a.lng("delay_ms"), a.lng("now_ms"))
          case "full" => QueryBuilder.full(table, nonNullable)
          case "scd-latest" => QueryBuilder.scdLatest(table,
            a.str("group_id_column"), a.str("scd_time_column"), nonNullable)
          case x => throw new IllegalArgumentException(s"Unknown sync_type: $x")
        }
        BuildResult(spark.sql(query), query, Map.empty, 0L)
    }
  }

  /** Full job: guard → build → hash → sink → result JSON (the value the
    * reference hands to `dbutils.notebook.exit`, export.py:327–337).
    */
  def run(spark: SparkSession, a: Args): String = {
    // Row-count guard probes the source table (export.py:38), not the
    // built query.
    if (a.lng("validate_row_count") > 0)
      FileSink.validateRowCount(
        Tables.load(spark, a.str("catalog"), a.str("table")), a.lng("validate_row_count"))
    val built = build(spark, a)
    // Separator: comma (primary — matching the sibling list args, e.g.
    // cdc_key_columns) OR whitespace (compat with the reference's
    // `.split()`, export.py:26 — SURVEY §2.3 documents that separator
    // asymmetry as a probable reference bug). Membership is exact-name:
    // the reference's substring-`in` bug (ignoring `id` when `pid` is
    // listed) is deliberately NOT reproduced.
    val hashed = RowHash.withHashColumn(built.df, a.str("computed_hash_column"),
      a.str("computed_hash_ignore_columns").split("[,\\s]+").toSet.filter(_.nonEmpty))
    if (a.str("bucket").nonEmpty) {
      val auth =
        if (a.str("gcp_project").nonEmpty)
          Some(GcsAuth(a.str("gcp_project"), a.str("service_account_email"),
            a.str("service_account_key"), a.str("service_account_key_id")))
        else None
      FileSink.write(hashed, SinkSpec(a.str("export_format", "json"),
        sinkUri(a.str("bucket"), a.str("prefix")),
        a.m.get("max_records_per_file").map(_.toLong), auth))
    }
    val resolved = QueryBuilder.resolveParams(built.query, built.params)
    resultJson(resolved, built.lastCommitMs)
  }

  /** The orchestrator payload (export.py:333–336), JSON-escaped. */
  def resultJson(query: String, lastCommitMs: Long): String = {
    val q = query.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    s"""{"query": "$q", "change_capture_sync_last_commit_ms": $lastCommitMs}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = Engine.session(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, a))
    finally spark.stop()
  }
}
