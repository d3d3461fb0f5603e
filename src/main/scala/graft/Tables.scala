package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet-directory "catalog": the local stand-in for the reference's
  * Unity-Catalog 3-level table refs (`{catalog}.{schema}.{table}`,
  * export.py:137). A scale-factor directory holds one parquet file per
  * table (TESTDATA.md).
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$sfDir/$name.parquet")
    else read(spark, s"$sfDir/$name.parquet")

  /** Parquet at `path` (a file or a directory of part files), read with
    * no schema-inference job: the schema comes from the footer of the
    * lexicographically first data file (names starting `_` or `.` are
    * not data), converted on the driver as Spark's own inference
    * converts it, and is handed to `spark.read.schema`. A missing path,
    * a directory with a `_metadata` or `_common_metadata` summary or
    * with no data file at its top level, and a session that merges
    * parquet schemas are read by plain `spark.read.parquet`.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val state = castToImpl(spark).sessionState
    val conf = state.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files = if (fs.exists(p)) fs.listStatus(p).filter(_.isFile) else Array.empty[FileStatus]
    val names = files.map(_.getPath.getName)
    if (state.conf.isParquetSchemaMergingEnabled ||
        names.exists(n => n == "_metadata" || n == "_common_metadata")) None
    else files.filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName).headOption.map { f =>
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.NO_FILTER)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(state.conf))
      }
  }

  /** The fixture's `events.ts` physical type has drifted across rounds
    * (parquet TIMESTAMP(NANOS) → timestamp[us]), so branch on the type
    * actually read instead of assuming an encoding:
    *   - TIMESTAMP_NTZ (parquet timestamp[us], isAdjustedToUTC=false):
    *     cast to session-UTC TimestampType so downstream
    *     `unix_timestamp`/CDC-boundary/oracle semantics are unchanged.
    *   - LongType (NANOS read under `nanosAsLong`): ns-epoch → µs via
    *     integer `div` (a double division loses 1 µs on ns-epoch longs).
    *   - TimestampType: pass through.
    * The `nanosAsLong` conf is only set after the raw read rejects the
    * footer ([ILLEGAL_PARQUET_TYPE]), never unconditionally — setting it
    * against a µs fixture was round 8's single-point-of-failure.
    */
  private def loadEvents(spark: SparkSession, path: String): DataFrame = {
    val raw =
      try read(spark, path)
      catch {
        case e: Exception if isNanosRejection(e) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          read(spark, path)
      }
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  private def isNanosRejection(e: Throwable): Boolean = {
    val msg = Option(e.getMessage).getOrElse("")
    msg.contains("ILLEGAL_PARQUET_TYPE") || msg.contains("NANOS") ||
    msg.contains("Illegal Parquet type")
  }

  /** Register every table as a temp view so `spark.sql` queries (the
    * reference's only query surface, export.py:203) resolve names the
    * same way the DuckDB oracle does.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    All.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
