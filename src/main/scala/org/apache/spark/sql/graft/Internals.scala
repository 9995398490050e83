package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/**
 * Minimal bridge into Spark's `private[sql]` plan-execution surface:
 * run an already-built `LogicalPlan` (e.g. a subtree lifted out of an
 * optimized plan) as a DataFrame. Used by the statement-door pruner to
 * evaluate the small dim side of a join for join-derived partition
 * pruning — the same "execute the build side early" move Spark's own
 * dynamic partition pruning makes inside the planner, re-derived at
 * the statement level because the manifest table format resolves
 * outside the catalog.
 */
object Internals {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `ofRows` for a plan already resolved — a rewrite of an analyzed
    * plan that only swaps leaves for same-schema ones — marked
    * analyzed so the analyzer does not run over it again. */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }
}
