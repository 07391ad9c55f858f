package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.storage.RDDInfo

/** Bridge between custom Catalyst `Expression`s and the public `Column`
  * API. Spark 4 scopes the Expression⇄Column converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so this one-file
  * shim lives in the `org.apache.spark.sql` package to re-export them for
  * `graft.functions`. `dataFrame` re-exports `Dataset.ofRows` (also
  * `private[sql]`) for PlanSpec's measured-cardinality window audit,
  * which must execute a window's CHILD logical plan to probe its
  * partition-key distinct count, and for `graft.operators.Stage`, which
  * wraps a staged relation re-stamped with its measured size.
  * `storageInfo` re-exports the one-RDD `getRDDStorageInfo` lookup
  * (`private[spark]`) that `Stage` measures those sizes with, and
  * `observedRow` the `private[sql]` `Observation.getRow` that
  * `Stage.observed` reads its metrics with, in declaration order. No Spark
  * behavior is modified.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def classicSession(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]
  def dataFrame(spark: SparkSession,
                plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classicSession(spark), plan)
  def storageInfo(rdd: RDD[_]): Seq[RDDInfo] =
    rdd.context.getRDDStorageInfo(_.id == rdd.id).toSeq
  def observedRow(o: Observation): Row = o.getRow
}
