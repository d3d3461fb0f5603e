package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graft.PlanFrames
import org.apache.spark.sql.types.StructType

/** The one bounded collect behind the driver-resident tiers: the graph
  * loops' ([[LocalGraph]]), PQ top-k's ([[Pq.pqTopKFromIndex]]) and the
  * CDC window's ([[graft.Engine.runCdc]], read back by
  * [[ChangeLog.cdcMergeApply]] and the other maintenance folds). Each
  * caller adds its own checks on the rows it gets. [[frame]] is the one
  * way those tiers hand rows back as a DataFrame.
  */
private[graft] object DriverRows {

  /** `df`'s relation when its rows already sit on the driver: the plan is
    * one `LocalRelation` (a [[frame]] or `createDataFrame` frame, with any
    * projection or filter over it folded in by the optimizer). A plan
    * check; no job runs. The optimizer runs only for a plan whose
    * leaves are all local relations: a frame that is a relation as
    * analyzed needs no folding, and one that reads anything else (a
    * file, a checkpoint) is not local, even where the optimizer would
    * prune it to an empty relation.
    */
  def local(df: DataFrame): Option[LocalRelation] = {
    val qe = df.queryExecution
    (qe.analyzed match {
      case l: LocalRelation => l
      case p if p.collectLeaves().forall(_.isInstanceOf[LocalRelation]) => qe.optimizedPlan
      case p => p
    }) match {
      case l: LocalRelation if !l.isStreaming => Some(l)
      case _ => None
    }
  }

  /** The rows of `df` when there are at most `ceiling` of them, else
    * `None`.
    *
    * A driver-local `df` is read from its plan, without a job (and
    * without the planning a `collect()` pays). `knownCount` is a row
    * count the caller already holds, so no job counts again. Otherwise
    * one job collects at most `ceiling + 1` rows: `coalesce(1)` makes
    * the limit scan a single partition, where a multi-partition limit
    * scales up over several jobs.
    */
  def collect(df: DataFrame, ceiling: Long,
              knownCount: Option[Long] = None): Option[Array[Row]] = {
    val rel = local(df)
    if (knownCount.orElse(rel.map(_.data.size.toLong)).exists(_ > ceiling)) return None
    val rows = rel match {
      case Some(l) =>
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        l.data.map(r => toRow(r).asInstanceOf[Row]).toArray
      case None if knownCount.isDefined => df.collect()
      case None =>
        df.coalesce(1).limit(math.min(ceiling, Int.MaxValue - 1L).toInt + 1).collect()
    }
    if (rows.length > ceiling) None else Some(rows)
  }

  /** [[collect]] as a driver-local frame with `df`'s schema (nullability
    * included), or `None` over the ceiling.
    */
  def hold(df: DataFrame, ceiling: Long): Option[DataFrame] =
    collect(df, ceiling).map { rows =>
      val toInternal = CatalystTypeConverters.createToCatalystConverter(df.schema)
      frame(df.sparkSession, df.schema, rows.toSeq.map(r => toInternal(r).asInstanceOf[InternalRow]))
    }

  /** A driver-local frame of `rows` (Catalyst values laid out as
    * `schema`): one `LocalRelation` of `UnsafeRow`s, so reading it back
    * ([[local]], [[collect]]) or planning a scan over it converts nothing.
    */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val toUnsafe = UnsafeProjection.create(schema)
    PlanFrames.ofPlan(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows.map(r => toUnsafe(r).copy())))
  }
}
