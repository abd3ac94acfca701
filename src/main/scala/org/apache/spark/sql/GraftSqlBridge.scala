package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one Spark-internal hop the engine needs: building a `DataFrame`
 *  from a hand-assembled `LogicalPlan` (`Dataset.ofRows` is
 *  `private[sql]`, so the helper lives in this package — the standard
 *  extension-library idiom). Used by
 *  [[graft.plans.RollupRouting.routed]] to build the frame whose plan
 *  embeds the [[graft.plans.RollupServable]] marker node. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
