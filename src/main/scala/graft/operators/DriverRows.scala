package graft.operators

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graft.PlanFrames
import org.apache.spark.sql.types.StructType

import graft.Jobs

/** The one gate of the driver-resident tiers (README "Driver tiers"):
  * the graph loops' ([[LocalGraph]]), PQ top-k's
  * ([[Pq.pqTopKFromIndex]]), the CDC window's ([[graft.Engine.runCdc]],
  * read back by [[ChangeLog.cdcMergeApply]] and the other maintenance
  * folds) and `prepCorpus`' near-dup stage ([[Dedup.minhashLshPairs]]).
  * Every size test of those tiers reads its ceiling through [[ceiling]],
  * and every bounded read is [[collect]] or [[hold]], which tag their
  * one job. Each caller adds its own checks on the rows it gets.
  * [[frame]] is the one way those tiers hand rows back as a DataFrame.
  */
private[graft] object DriverRows {

  private val scoped = new DynamicVariable[Option[Long]](None)

  /** The ceiling a size test compares against: `default` (one of the
    * tiers' constants), or the value of an enclosing [[ceilingsAt]].
    * One thread-local read.
    */
  def ceiling(default: Long): Long = scoped.value.getOrElse(default)

  /** Run `body` with every [[ceiling]] read on this thread reading `c`:
    * `Long.MaxValue` forces each driver tier whose other checks pass, a
    * negative `c` forces the distributed tiers. For specs only; nothing
    * else sets it.
    */
  private[graft] def ceilingsAt[T](c: Long)(body: => T): T = scoped.withValue(Some(c))(body)

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

  /** The rows of `df` when there are at most `ceiling(default)` of
    * them, else `None`.
    *
    * A driver-local `df` is read from its plan, without a job (and
    * without the planning a `collect()` pays). `knownCount` is a row
    * count the caller already holds, so no job counts again. Otherwise
    * one job, tagged `graft:<op>:<step>`, collects at most `ceiling + 1`
    * rows: `coalesce(1)` makes the limit scan a single partition, where
    * a multi-partition limit scales up over several jobs.
    */
  def collect(df: DataFrame, op: String, step: String, default: Long,
              knownCount: Option[Long] = None): Option[Array[Row]] = {
    val max = ceiling(default)
    val rel = local(df)
    if (knownCount.orElse(rel.map(_.data.size.toLong)).exists(_ > max)) return None
    val rows = rel match {
      case Some(l) =>
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        l.data.map(r => toRow(r).asInstanceOf[Row]).toArray
      case None => Jobs.labelled(df.sparkSession, op, step) {
        if (knownCount.isDefined) df.collect()
        else df.coalesce(1).limit(math.min(max, Int.MaxValue - 1L).toInt + 1).collect()
      }
    }
    if (rows.length > max) None else Some(rows)
  }

  /** [[collect]] as a driver-local frame with `df`'s schema (nullability
    * included), or `None` over the ceiling.
    */
  def hold(df: DataFrame, op: String, step: String, default: Long): Option[DataFrame] =
    collect(df, op, step, default).map { rows =>
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
