package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The one bounded collect behind the driver-resident tiers: the graph
  * loops' ([[LocalGraph]]), PQ top-k's ([[Pq.pqTopKFromIndex]]) and the
  * CDC window's ([[graft.Engine.runCdc]], read back by
  * [[ChangeLog.cdcMergeApply]] and the other maintenance folds). Each
  * caller adds its own checks on the rows it gets.
  */
private[graft] object DriverRows {

  /** `df`'s relation when its rows already sit on the driver: the
    * optimized plan is one `LocalRelation` (a `createDataFrame` frame,
    * with any projection or filter over it folded in). A plan check; no
    * job runs.
    */
  def local(df: DataFrame): Option[LocalRelation] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming => Some(l)
      case _ => None
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
    collect(df, ceiling).map(rows => df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema))
}
