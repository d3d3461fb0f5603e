package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

// Lives under org.apache.spark.sql because classic.Dataset.ofRows is
// private[sql].

/** A DataFrame over a logical plan the caller built, such as a
  * `LocalRelation` of rows already in Catalyst's form, so no external-row
  * conversion runs (as it does in `createDataFrame`).
  */
object PlanFrames {
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(castToImpl(spark), plan)
}
